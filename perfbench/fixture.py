"""Benchmark inputs: a synthetic fixture in the repo's table layout.

The tables follow the schemas and value distributions of the repo's
synthetic test fixtures (FIXTURES.md section B): uniform keys, 30 days of
events in ``ts`` order, a 30-word document vocabulary with 5 % " dup"
near-copies, and unit-norm 64-dimensional embeddings. Everything is drawn
from one fixed generator seed, so the same scale factor always yields the
same bytes; the benchmark's ``--seed`` varies how a workload replays or
queries these tables, never the tables themselves.

Scale factor 0.1 gives 100k events and 600k lineitems; the sf0.5 tables
are five shifted copies made by ``tools/gen_scale_fixture.py``. Both are
cached under ``.perfbench_cache/`` in the checkout, keyed by the code that
makes them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
EVENT_DAYS = 30
EVENT_START_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 10**6
ORDER_EPOCH_DAY = 9131  # 1995-01-01
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = ("large", "small", "hot", "blue", "red")
PART_NOUN = ("ring", "bolt", "anvil", "widget", "gear", "nut", "screw",
             "spring", "valve", "pipe", "plate", "rod", "wheel")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def make_tables(sf: float) -> dict[str, pa.Table]:
    """Every fixture table at scale factor ``sf`` (deterministic)."""
    rng = np.random.default_rng(GEN_SEED)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pkeys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": _choice(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pkeys % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days_ts(ORDER_EPOCH_DAY + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _choice(rng, ("F", "O"), n_line),
        "l_shipdate": _days_ts(ORDER_EPOCH_DAY + 1 + rng.integers(0, 2498, n_line))})
    ts = np.sort(EVENT_START_US + rng.integers(0, EVENT_DAYS * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), n)])
             for n in rng.integers(10, 100, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def _code_key(*files: Path) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def _publish(tmp: Path, dest: Path) -> None:
    """Atomically move a finished directory into place (a concurrent or
    killed run never leaves a half-written fixture that looks complete)."""
    try:
        os.rename(tmp, dest)
    except OSError:  # another run published it first
        shutil.rmtree(tmp, ignore_errors=True)


def base_fixture(cache: Path, sf: float) -> Path:
    """Directory holding one parquet file per table at scale ``sf``."""
    dest = cache / f"sf{sf:g}-{_code_key(Path(__file__))}"
    if not dest.exists():
        tmp = cache / f".tmp-{dest.name}-{os.getpid()}"
        tmp.mkdir(parents=True, exist_ok=True)
        for name, table in make_tables(sf).items():
            pq.write_table(table, tmp / f"{name}.parquet")
        _publish(tmp, dest)
    return dest


def scaled_fixture(spark, cache: Path, src: Path, k: int, repo: Path) -> Path:
    """``src`` copied ``k`` times by tools/gen_scale_fixture.py; cached,
    keyed by the source fixture's directory name (its identity) and the
    scaler's code."""
    from tools.gen_scale_fixture import FIXED_DIMS, SCALED, scale_table

    key = _code_key(repo / "tools" / "gen_scale_fixture.py")
    dest = cache / f"{src.name}-x{k}-{key}"
    if not dest.exists():
        tmp = cache / f".tmp-{dest.name}-{os.getpid()}"
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        for table in FIXED_DIMS + SCALED:
            scale_table(spark, str(src), str(tmp), table, k)
        _publish(tmp, dest)
    return dest


def cached_json(path: Path, compute) -> dict:
    """Read ``path`` or compute and atomically write it."""
    if path.exists():
        return json.loads(path.read_text())
    value = compute()
    tmp = path.with_name(f".tmp-{path.name}-{os.getpid()}")
    tmp.write_text(json.dumps(value, sort_keys=True))
    os.replace(tmp, path)
    return value
