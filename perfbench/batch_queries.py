"""``batch_queries``: repeated passes over twelve registry queries at sf0.5.

The sf0.5 tables are made once from the sf0.1 fixture by
``tools/gen_scale_fixture.py`` and cached with the DuckDB oracle's value
hash for every query, so neither counts toward a run's set-up. A run
checks every query against its oracle hash in one untimed warm-up pass,
then times passes through the noop sink, in an order the seed shuffles
per pass.
"""

from __future__ import annotations

import random
import time

from perfbench.common import Result, median_or_zero, summarize

QUERIES = (
    "counters_rollup", "local_supplier_volume", "shipping_priority",
    "top_parts_per_brand", "sessionization", "tfidf_top_terms",
    "dedup_minhash_lsh", "dedup_jaccard_prefix", "knn_cosine_brute",
    "mmr_rerank", "pagerank_types", "ivf_knn",
)
SCALE_COPIES = 5  # sf0.1 x 5 = sf0.5
PYTHON_SENT = "data sent to Python workers"


def plan_layers(names=QUERIES) -> tuple[str, ...]:
    out = []
    for q in names:
        out += [f"plans.{q}.build_s", f"plans.{q}.catalyst_ms"]
    for q in names:
        out += [f"operators.{q}.{m}" for m in ("exec_s", "jobs", "shuffle_bytes",
                                                "python_bytes")]
    return tuple(out)


def oracle_hashes(sf_dir, names=QUERIES) -> dict[str, str]:
    """DuckDB value hash of every query's oracle SQL over ``sf_dir``."""
    import duckdb

    from pleiades_spark.catalog import TABLES
    from pleiades_spark.plans import collect_queries
    from tools.check_oracle import value_hash

    con = duckdb.connect()
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    qs = collect_queries()
    out = {}
    for name in names:
        cur = con.execute(qs[name].oracle)
        out[name] = value_hash([c[0] for c in cur.description], _fetch_all(cur))
    con.close()
    return out


def _fetch_all(cur, chunk: int = 50_000):
    while rows := cur.fetchmany(chunk):
        yield from rows


def prepare(ctx) -> tuple:
    """The scaled tables and their oracle hashes, built on first use."""
    sf_dir = ctx.scaled_fixture(0.1, SCALE_COPIES)
    return sf_dir, ctx.cached(sf_dir.name + "-oracle.json", lambda: oracle_hashes(sf_dir))


def run(ctx) -> Result:
    from pleiades_spark.catalog import TABLES, load
    from pleiades_spark.plans import collect_queries
    from tools.check_oracle import value_hash
    from perfbench.sparkstats import SqlStore, catalyst_ms, group_jobs

    res = Result()
    spark, tracer = ctx.spark, ctx.tracer
    sf_dir, want = prepare(ctx)

    def stage(i: int) -> None:
        """Open every table through the catalog and scan it once."""
        with tracer.span("catalog.stage", rep=i):
            for t in TABLES:
                load(spark, str(sf_dir), t).count()

    ctx.setup_reps(stage)
    qs = collect_queries()
    rng = random.Random(ctx.seed)

    with tracer.span("batch_queries.check"):
        for name in rng.sample(QUERIES, len(QUERIES)):
            res.attempted += 1
            try:
                df = qs[name].fn(spark, str(sf_dir))
                # streamed: the largest results have hundreds of thousands of rows
                got = value_hash(df.columns, (tuple(r) for r in df.toLocalIterator()))
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                got = f"error: {exc}"[:200]
            spark.catalog.clearCache()
            if not res.check(got == want[name], f"{name}: {got} != oracle {want[name]}"):
                res.failed += 1

    sql = SqlStore(spark) if ctx.trace else None
    passes: list[float] = []
    per_query: dict[str, dict[str, list[float]]] = {q: {} for q in QUERIES}
    # another pass only if it should end within --seconds (passes take
    # about as long as each other)
    t_end = time.perf_counter() + ctx.seconds
    while not passes or time.perf_counter() + passes[-1] <= t_end:
        order = rng.sample(QUERIES, len(QUERIES))
        pass_s = 0.0
        with tracer.span("batch_queries.pass") as pass_span:
            for name in order:
                group = f"perfbench-{len(passes)}-{name}"
                spark.sparkContext.setJobGroup(group, name)
                before = sql.last_id() if sql else 0
                res.attempted += 1
                t0 = time.perf_counter()
                with tracer.span(f"plans.{name}.build", parent=pass_span["id"]):
                    df = qs[name].fn(spark, str(sf_dir))
                t1 = time.perf_counter()
                # catalyst time is read only when tracing: forcing the plan
                # of the frame adds a planning pass the untraced run skips
                cat = catalyst_ms(df) if sql else 0.0
                t2 = time.perf_counter()
                with tracer.span(f"operators.{name}.exec", parent=pass_span["id"]):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                pass_s += (t1 - t0) + (t3 - t2)
                spark.catalog.clearCache()
                if sql:
                    jobs, shuffle = group_jobs(spark, group)
                    sent = sum(e.get(PYTHON_SENT, 0.0)
                               for e in sql.executions_after(before, (PYTHON_SENT,)))
                    m = per_query[name]
                    for key, v in (("build_s", t1 - t0), ("catalyst_ms", cat),
                                   ("exec_s", t3 - t2), ("jobs", jobs),
                                   ("shuffle_bytes", shuffle), ("python_bytes", sent)):
                        m.setdefault(key, []).append(v)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        passes.append(pass_s)

    s = summarize(p * 1000 for p in passes)
    res.e2e.update({"latency_p50_ms": s["p50"], "latency_tail_ms": s["tail"],
                    "throughput_per_s": len(QUERIES) * len(passes) / sum(passes)})
    res.notes["pass_ms"] = s
    if ctx.trace:
        for name, m in per_query.items():
            for key, vals in m.items():
                layer = "plans" if key in ("build_s", "catalyst_ms") else "operators"
                res.layers[f"{layer}.{name}.{key}"] = median_or_zero(vals)
    return res
