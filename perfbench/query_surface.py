"""Workload ``query_surface``: registered queries from
``__spark_entry__.queries()`` over the fixed sf0.01 tables in ``data/``,
each timed as ``fn(spark, dir).count()`` with caches cleared between queries
(bench.py's per-query protocol).

At this scale the time is driver planning, job and stage scheduling,
``caching`` materializations and Python-UDF boundaries (``functions.dedup``,
``sources.otlp_pb``, ``functions.similarity``, ``operators.metrics_dp``),
none of which the ``pipeline`` workload touches.

All 103 queries take about 110 s per warm pass on a 4-core host, and a
first pass that collected every result took 350 s, which no run of this
benchmark can afford. A run times a fixed set of six instead: the five
leaves the round-6 verdict named as suspects and one of the ``.pb`` codec
round trips. The tables are fixed and the queries run in a fixed order, so
the seed does not apply here.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import __spark_entry__ as entry
from tools.oracle_check import TABLES, norm_rows

from . import stats
from .trace import plan_counters, planning_ms

SUSPECTS = (
    "doc_tfidf_terms",
    "pipeline_route_quarantine",
    "events_latency_quantiles_sketch",
    "pipeline_trace_records",
    "emb_dup_clusters",
)
# The timed queries, in the order they run. Between them they load
# functions.text (tfidf), operators.route (route_quarantine),
# operators.metrics_dp (the exp-histogram sketch), operators.span_records
# and caching (trace_records), functions.similarity and the functions.dedup
# connected components (emb_dup_clusters), and sources.otlp_pb.
QUERIES = SUSPECTS + ("pipeline_pb_capture_roundtrip",)


def data_dir(root: str) -> str:
    return os.path.join(root, "perfbench", "data", "sf0.01")


def oracle(sf_dir: str, names) -> dict[str, tuple[list[str], int, str]]:
    """(sorted columns, row count, value hash) of each query's DuckDB oracle."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        sql = entry.oracle_sql()
        out = {}
        for name in names:
            res = con.execute(sql[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = (sorted(cols), len(rows), norm_rows(cols, rows))
        return out
    finally:
        con.close()


def run(ctx) -> None:
    spark, tr = ctx.spark, ctx.tracer
    sf_dir = data_dir(ctx.root)
    fns = entry.queries()
    names = QUERIES[: ctx.cfg["query_surface"]["queries"]]
    with ThreadPoolExecutor(1) as pool:
        # DuckDB runs the oracle while Spark starts the warm-up pass.
        pending = pool.submit(oracle, sf_dir, names)
        results = {}
        for name in names:
            results[name] = ctx.attempt(lambda: _collect(spark, fns[name], sf_dir))
            spark.catalog.clearCache()
            ctx.mark(f"warm-up {name}")
        want = pending.result()

    # The value-hash gate on the warm-up pass, outside the timed window.
    for name, got in results.items():
        if got is not None:
            cols, rows = got
            ctx.check((sorted(cols), len(rows), norm_rows(cols, rows)) == want[name],
                      f"{name}: result differs from the DuckDB oracle")

    ctx.start_window()
    per_query: dict[str, list[float]] = {n: [] for n in names}
    passes, cpus = [], []
    k = ctx.cfg["query_surface"]["timed_passes"]
    while ctx.window_open(len(passes), k):
        total, cpu0 = 0.0, ctx.cpu_s()
        for name in names:
            with tr.span("surface.query", query=name) as sp:
                t0 = time.perf_counter()
                counted = ctx.attempt(lambda: _count(spark, fns[name], sf_dir))
                elapsed = time.perf_counter() - t0
            spark.catalog.clearCache()
            ctx.mark(f"timed {name}")
            if counted is None:
                continue
            cdf, n = counted
            if not ctx.check(n == want[name][1], f"{name}: count {n} != oracle {want[name][1]}"):
                continue
            per_query[name].append(elapsed)
            total += elapsed
            if tr.enabled:
                sp.update(plan_counters(cdf), planning_ms=planning_ms(cdf))
        passes.append(total)
        cpus.append((ctx.cpu_s() - cpu0) / len(names))
    ctx.end_window()
    # Statistics over the first k passes, as the pipeline does for writes;
    # a second pass cost 12 s a run and narrowed the spread only from 0.19
    # to 0.17.
    passes, cpus = passes[:k], cpus[:k]
    medians = {n: stats.median(v[:k]) for n, v in per_query.items() if v}
    ctx.report(throughput=len(names) / stats.median(passes), cpu_s_per_op=stats.median(cpus),
               samples={"passes": len(passes)})
    if tr.enabled:
        layers(ctx, medians, passes)


def _collect(spark, fn, sf_dir: str):
    df = fn(spark, sf_dir)
    return df.columns, [tuple(r) for r in df.collect()]


def _count(spark, fn, sf_dir: str):
    # Dataset.count() is this same aggregate; keeping the frame lets the
    # traced run read its query execution afterwards.
    cdf = fn(spark, sf_dir).groupBy().count()
    return cdf, cdf.collect()[0][0]


def layers(ctx, medians: dict[str, float], passes: list[float]) -> None:
    tr, m = ctx.tracer, ctx.layer
    spans = [s for s in tr.by_name("surface.query") if "planning_ms" in s]
    m["surface.total_s"] = (stats.median(passes), "s")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("shuffle_bytes", "bytes"),
                      ("python_bytes", "bytes"), ("planning_ms", "ms")):
        m[f"surface.{key}"] = (sum(s[key] for s in spans) / len(passes), unit)
    for q in QUERIES:
        mine = [s for s in spans if s["query"] == q]
        if mine:
            m[f"surface.q.{q}_s"] = (medians[q], "s")
            m[f"surface.q.{q}.jobs"] = (stats.median([s["jobs"] for s in mine]), "count")
            m[f"surface.q.{q}.planning_ms"] = (stats.median([s["planning_ms"] for s in mine]), "ms")
