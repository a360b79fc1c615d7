"""The ``lake_queries`` workload: one closed-loop client running registry
queries over a seeded lake whose tables are cached in Spark.

Each round runs every query in ``QUERIES`` once, in an order drawn from
the seed and the round number. The first round is the warm-up; its results
are checked against each query's DuckDB oracle (outside every timing) and
every later execution must return exactly the same rows.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import numpy as np

from common import median, percentile

# TPC-H-like tables at sf 0.01; events, documents and embeddings at sf
# 0.05 (50,000 events, 2,500 documents and embeddings), so the as-of,
# proximity, dedup, similarity and sketch kernels do real work in each
# execution. sf 0.1 for these three made a run about 15 s longer (a
# median of 86 s against 70 s over ten and four seeds), more than the
# benchmark's time budget allows.
SF = 0.01
SIDE_SF = 0.05
TAIL_P = 75.0
MIN_SAMPLES = 40        # ten executions beyond the p75; three rounds
# A fixed cross-section of the registry, one or more per operator family
# (OHLC, top-k, proximity and as-of joins, dedup, similarity, sketches,
# aggregates, windows, filters). Running all 50 registered queries costs a
# 50-100 s warm-up round per run, more than the benchmark's time budget
# allows next to the feed workload. Left out for the same budget:
# window_moving_sum, whose time is mostly the transfer of one result row
# per event to Python, and decode_binary_pipeline, which reads no lake
# table (the feed workloads measure the decode kernel).
QUERIES = (
    "flagship_topk_revenue", "ohlc_bars", "topk_customers", "rank_trending",
    "join_range_proximity", "join_nearest_click", "join_asof_click",
    "dedup_exact_docs", "text_fingerprint_dups", "similarity_topk",
    "sketch_kmv_distinct", "agg_rollup", "sessionize_users",
    "filter_range_dsl",
)
CACHED = ("customer", "orders", "lineitem", "events", "documents",
          "embeddings")   # the tables ``QUERIES`` read


def result_digest(rows) -> str:
    """Order-insensitive digest of a result: rows as reprs, sorted."""
    h = hashlib.sha1()
    for r in sorted(repr(tuple(x)) for x in rows):
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def matches_oracle(cols, rows, duck_cols, duck_rows) -> bool:
    """Row count, column names and bit-exact values, order-insensitive,
    by the repository's own oracle rules (``tools/check_oracle.py``)."""
    from tools.check_oracle import normalize, values_equal
    if len(rows) != len(duck_rows) or sorted(cols) != sorted(duck_cols):
        return False
    return all(values_equal(a, b)
               for ra, rb in zip(normalize(rows, cols)[0],
                                 normalize(duck_rows, duck_cols)[0])
               for a, b in zip(ra, rb))


def order(seed: int, rnd: int) -> list[str]:
    rng = np.random.default_rng([seed, rnd])
    return [QUERIES[i] for i in rng.permutation(len(QUERIES))]


def run_lake(spark, seed: int, seconds: float, tracer, tmp: str,
             t_proc: float, mem) -> dict:
    from lakegen import write_lake
    from dexscraper_spark.plans.registry import all_queries
    from dexscraper_spark.sources.tables import load_table

    sf_dir = os.path.join(tmp, "lake")
    with tracer.span("lakegen", "generator"):
        write_lake(sf_dir, seed, SF, SIDE_SF)
    with tracer.span("tables.load", "tables"):
        t = time.perf_counter()
        for name in CACHED:
            load_table(spark, sf_dir, name).cache().count()
        tables_ms = (time.perf_counter() - t) * 1e3
    registry = all_queries()
    sc = spark.sparkContext
    checks: dict[str, bool] = {}
    failed = attempted = 0
    first: dict[str, tuple] = {}
    groups: list[str] = []
    samples: list[tuple[str, float, float, float]] = []  # q, build, fetch, e2e

    def execute(name: str, group: str):
        sc.setJobGroup(group, name)
        groups.append(group)
        with tracer.span(f"q.{name}", "query"):
            t0 = time.perf_counter()
            with tracer.span("plan.build", "plan"):
                df = registry[name].build(spark, sf_dir)
            t1 = time.perf_counter()
            with tracer.span("plan.fetch", "fetch"):
                rows = df.collect()
            t2 = time.perf_counter()
        return df.columns, rows, t1 - t0, t2 - t1, t2 - t0

    # warm-up round: every query once; results kept for the oracle check
    for name in order(seed, 0):
        attempted += 1
        try:
            cols, rows, *_ = execute(name, f"pb-warm-{name}")
            first[name] = (cols, rows, result_digest(rows))
        except Exception as e:  # a query that fails is counted, not fatal
            print(f"query {name} failed in warm-up: {type(e).__name__}: {e}")
            failed += 1
    t_ready = time.time()

    t0 = time.time()
    rnd = 0
    while time.time() - t0 < seconds or len(samples) < MIN_SAMPLES:
        rnd += 1
        for name in order(seed, rnd):
            attempted += 1
            start = time.perf_counter()
            try:
                cols, rows, b, f, e2e = execute(name, f"pb-{rnd}-{name}")
                ok = name in first and result_digest(rows) == first[name][2]
            except Exception as e:
                print(f"query {name} failed: {type(e).__name__}: {e}")
                b = f = 0.0
                e2e = time.perf_counter() - start
                ok = False
            samples.append((name, b, f, e2e))
            if not ok:
                failed += 1
    t1 = time.time()
    mem.finish(spark)
    checks["repeats_match_first_result"] = not failed

    # oracle check, outside every timing
    from tools.check_oracle import duck_con
    con = duck_con(sf_dir)
    bad = []
    for name in QUERIES:
        if name not in first:   # failed in the warm-up, counted there
            continue
        cols, rows, _ = first[name]
        sql = registry[name].oracle
        if sql is None:
            ok = len(rows) > 0
        else:
            res = con.execute(sql)
            ok = matches_oracle(cols, rows, [d[0] for d in res.description],
                                res.fetchall())
        if not ok:
            bad.append(name)
    con.close()
    for name in bad:
        print(f"query {name} does not match its oracle")
    failed += len(bad)
    checks["queries_match_oracle"] = not bad and len(first) == len(QUERIES)
    return {"setup_s": t_ready - t_proc, "t0": t0, "t1": t1, "rounds": rnd,
            "samples": samples, "tables_ms": tables_ms, "groups": groups,
            "attempted": attempted, "failed": failed, "checks": checks}


def summarize(res: dict, spark) -> tuple[dict, dict, list[str]]:
    """(end-to-end metrics, per-layer metrics, report lines)."""
    from feed import job_stats

    lat = [s[3] * 1e3 for s in res["samples"]]
    n = len(lat)
    qps = n / (res["t1"] - res["t0"])
    p50, pt = percentile(lat, 50), percentile(lat, TAIL_P)
    e2e = {"setup_s": (res["setup_s"], "s"),
           "latency_p50_ms": (p50, "ms"), "latency_tail_ms": (pt, "ms"),
           "throughput_per_s": (qps, "1/s")}
    lines = [f"query_p50_ms = {p50:.3f} ms (n={n})",
             f"query_p{TAIL_P:g}_ms = {pt:.3f} ms (n={n}, "
             f"{n - math.ceil(TAIL_P / 100 * n)} beyond)",
             f"queries_per_s = {qps:.3f} 1/s ({res['rounds']} rounds of "
             f"{len(QUERIES)} queries)"]
    ex = job_stats(spark, res["groups"])
    runs = max(len(res["groups"]), 1)
    layer = {"tables.load_ms": res["tables_ms"],
             "plan.build_ms": median([s[1] * 1e3 for s in res["samples"]]),
             "plan.fetch_ms": median([s[2] * 1e3 for s in res["samples"]]),
             "exec.tasks": ex["tasks"] / runs,
             "exec.stages": ex["stages"] / runs,
             "exec.failed_tasks": float(ex["failed_tasks"])}
    for q in QUERIES:
        vals = [s[3] * 1e3 for s in res["samples"] if s[0] == q]
        layer[f"q.{q}_ms"] = median(vals) if vals else 0.0
    res["failed"] += ex["failed_tasks"]
    return e2e, layer, lines
