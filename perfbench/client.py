"""Closed-loop HTTP client for the ``api_serve`` workload.

Runs as its own process with a few connections; each sends its next
request only after the previous one returned. Paths are drawn from a
seeded mix, and every response is checked against the payload the
benchmark precomputed from the batch recompute. Requests in the first
``warmup_seconds`` are not recorded. One JSON line at the end gives the
measured window's start and each request's route, latency and verdict.

    python3 perfbench/client.py '<json config>'
"""

from __future__ import annotations

import http.client
import json
import random
import sys
import threading
import time

GROWTH_TOL = 5e-5  # half the 1e-4 quantum both sides round to


def route_of(path: str) -> str:
    if path == "/metrics":
        return "metrics"
    if path == "/api/days":
        return "days"
    return "stats" if path == "/api/stats" else "stats_day"


def _counters_match(got: dict, want: dict) -> bool:
    if got.get("Since") != want["Since"]:
        return False
    g = {c["Name"]: c for c in got.get("Counters", [])}
    w = {c["Name"]: c for c in want["Counters"]}
    return g.keys() == w.keys() and all(
        g[n]["Value"] == w[n]["Value"]
        and abs(g[n]["Growth"] - w[n]["Growth"]) <= GROWTH_TOL for n in w)


def _metrics_match(text: str, want: dict) -> bool:
    """Every counter's all-time event gauge is present with the expected
    value (the request counters in the same page change as we go)."""
    seen = {}
    for line in text.splitlines():
        if line.startswith('pleiades_counter_events{counter="'):
            name = line.split('"')[1]
            seen[name] = int(float(line.rsplit(" ", 1)[1]))
    return seen == want


def check(path: str, status: int, body: bytes, expected: dict) -> bool:
    if status != 200:
        return False
    if path == "/metrics":
        return _metrics_match(body.decode(), expected["metrics"])
    got = json.loads(body)
    if path == "/api/days":
        return got == expected["days"]
    return _counters_match(got, expected["stats"][path])


MIX = ("day",) * 6 + ("stats",) * 2 + ("days", "metrics")


def make_paths(seed: int, days: list[int], n: int) -> list[str]:
    """The seeded request mix: every run of ten requests holds exactly 6 day
    stats, 2 latest stats, 1 day list and 1 metrics page, in seeded order,
    so the route shares do not vary between seeds."""
    rng = random.Random(seed)
    out = []
    while len(out) < n:
        for kind in rng.sample(MIX, len(MIX)):
            out.append({"day": f"/api/stats/{rng.choice(days)}", "stats": "/api/stats",
                        "days": "/api/days", "metrics": "/metrics"}[kind])
    return out[:n]


def main(cfg: dict) -> int:
    with open(cfg["expected"]) as fh:
        expected = json.load(fh)
    days = expected["days"]["Days"]
    # a warm-up whose requests are not recorded lets JIT compilation and
    # the first jobs' set-up finish before the measured window
    start = time.perf_counter() + cfg["warmup_seconds"]
    deadline = start + cfg["seconds"]
    records: list[list] = []
    warmup: list[bool] = []  # verdicts of the warm-up requests
    lock = threading.Lock()

    def worker(i: int) -> None:
        paths = make_paths(cfg["seed"] * 1000 + i, days, 100_000)
        mine, mine_warm = [], []
        for path in paths:
            t0 = time.perf_counter()
            if t0 >= deadline:
                break
            conn = http.client.HTTPConnection("127.0.0.1", cfg["port"], timeout=60)
            try:
                conn.request("GET", path)
                resp = conn.getresponse()
                body = resp.read()
                ok = check(path, resp.status, body, expected)
            except (OSError, http.client.HTTPException, ValueError):
                ok = False
            finally:
                conn.close()
            if t0 >= start:
                mine.append([route_of(path), time.perf_counter() - t0, ok])
            else:
                mine_warm.append(ok)
        with lock:
            records.extend(mine)
            warmup.extend(mine_warm)

    threads = [threading.Thread(target=worker, args=(i,))
               for i in range(cfg["connections"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # perf_counter is CLOCK_MONOTONIC, so the server can compare ``start``
    print(json.dumps({"start": start, "records": records, "warmup": warmup}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(json.loads(sys.argv[1])))
