"""Workload ``pipeline``: the write path, then the read path over what it wrote.

Write: ``plans.run_pipeline`` over seeded synthetic transcripts with the job
CLI's shipped defaults (``id_mode="hash"``, single pass, SQL parse,
``suppress_text=True``) and a 45-tool catalog, so the tools the generator
emits beyond it land in the quarantine sink. Loads ``sources`` (parquet
scan), ``operators.parse``, ``operators.normalize``, ``operators.enrich``,
``operators.route`` (label and routed write) and the counts re-scan in
``plans.pipeline``.

Read: one closed-loop client fetches one conversation at a time from that
routed output, ``reconstruct_turns(read_sinks(out)).where(conv_id == k)
.orderBy("turn_idx").collect()``, with keys drawn uniformly over the
conversation ids from the seeded RNG, so about 2 % of the fetches hit a hot
1000-turn conversation. Loads ``operators.route`` in reverse (``read_sinks``,
``restore_text``, partition and row-group pruning on the layout the write
chose) and ``operators.reconstruct``; a write-side change that buys ingest
bytes or time and costs reads shows in the read latency.

Both bypass the codecs, ``functions.*`` and ``caching``.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
import time

from pyspark.sql import functions as F

from otel_arrow_adapter_spark.datagen import synthesize_tool_catalog, synthesize_transcripts
from otel_arrow_adapter_spark.operators.enrich import enrich_with_catalog
from otel_arrow_adapter_spark.operators.normalize import assign_surrogate_ids
from otel_arrow_adapter_spark.operators.parse import parse_turns
from otel_arrow_adapter_spark.operators.reconstruct import reconstruct_turns
from otel_arrow_adapter_spark.operators.route import SINKS, label_sinks, read_sinks, write_routed
from otel_arrow_adapter_spark.plans import build_labeled, counts_from_routed, run_pipeline

from . import stats
from .trace import plan_counters, planning_ms

TURN_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
CATALOG_TOOLS = 45
MEAN_TURNS = 25


def ingest(spark, transcripts, catalog, out: str, run_id: str):
    return run_pipeline(spark, transcripts, catalog, out, run_id=run_id,
                        id_mode="hash", suppress_text=True)


def fetch(spark, out: str, conv_id: str, tr):
    with tr.span("lookup.read_sinks"):
        sinks = read_sinks(spark, out)
    with tr.span("lookup.reconstruct"):
        q = reconstruct_turns(sinks).where(F.col("conv_id") == conv_id).orderBy("turn_idx")
    with tr.span("lookup.collect"):
        rows = q.collect()
    return q, rows


def roundtrip_mismatches(spark, out: str, source) -> int:
    """Rows in either multiset but not the other: reconstructed sinks vs input."""
    rebuilt = reconstruct_turns(read_sinks(spark, out)).select(*TURN_COLS)
    src = source.select(*TURN_COLS)
    return rebuilt.exceptAll(src).count() + src.exceptAll(rebuilt).count()


def write_input(spark, path: str, seed: int, n_convs: int, max_turns: int) -> tuple[int, int]:
    """Write the longest prefix of the generator's conversations, in id order,
    that stays within ``max_turns`` turns, so every seed gives nearly the same
    input size with the generator's own skew. Returns (conversations, turns)."""
    gen = synthesize_transcripts(spark, n_convs=n_convs, mean_turns=MEAN_TURNS, seed=seed)
    convs = turns = 0
    for _, n in sorted(tuple(r) for r in gen.groupBy("conv_id").count().collect()):
        if turns + n > max_turns:
            break
        convs, turns = convs + 1, turns + n
    gen.where(F.col("conv_id") < f"conv-{convs:08d}").write.parquet(path)
    return convs, turns


def run(ctx) -> None:
    spark, tr, cfg = ctx.spark, ctx.tracer, ctx.cfg["pipeline"]
    path = os.path.join(ctx.work, "in")
    n_convs, n_turns = write_input(spark, path, ctx.seed, cfg["convs"], cfg["turns"])
    source = spark.read.parquet(path)
    catalog = synthesize_tool_catalog(spark, n_tools=CATALOG_TOOLS)
    out = os.path.join(ctx.work, "out")
    ctx.mark(f"input written: {n_convs} conversations, {n_turns} turns")

    def write(i: int) -> tuple[float, float] | None:
        """One timed write: (wall seconds, CPU seconds), or None if it failed."""
        with tr.span("ingest.run") as sp:
            t0, cpu0 = time.perf_counter(), ctx.cpu_s()
            counts = ctx.attempt(lambda: ingest(spark, source, catalog, out, f"run-{i}"))
            elapsed, cpu = time.perf_counter() - t0, ctx.cpu_s() - cpu0
        ctx.mark(f"ingest run {i}: {elapsed:.2f}s")
        if counts is None:
            return None
        rows = sum(r["n_rows"] for r in counts.collect())
        if not ctx.check(rows == n_turns, f"sink_counts total {rows} != {n_turns} input turns"):
            return None
        sp["timed"] = True
        return elapsed, cpu

    for i in range(cfg["warmup_runs"]):
        write(i)
    for s in tr.spans:
        s.pop("timed", None)
    ctx.start_window()
    secs, cpus = [], []
    k, i = cfg["timed_runs"], cfg["warmup_runs"]
    while ctx.window_open(i - cfg["warmup_runs"], k):
        got = write(i)
        i += 1
        if got is not None:
            secs.append(got[0])
            cpus.append(got[1])
    ctx.end_window()
    # Statistics over the first k writes only: a faster host fits more writes
    # into the window, and later writes sit further down the warm-up curve.
    secs, cpus = secs[:k], cpus[:k]

    bad = ctx.attempt(lambda: roundtrip_mismatches(spark, out, source))
    if bad is not None:
        ctx.check(bad == 0, f"{bad} round-trip mismatches")
    ctx.mark("round-trip gate done")
    ctx.report(throughput=n_turns / stats.median(secs), cpu_s_per_op=stats.median(cpus),
               samples={"ingest_runs": len(secs)})
    ctx.notes["input"] = {"conversations": n_convs, "turns": n_turns}
    if tr.enabled:
        lookup_phase(ctx, source, n_convs, out)
        ingest_layers(ctx, source, n_turns, catalog, out, path)


def lookup_phase(ctx, source, n_convs: int, out: str) -> None:
    """Traced runs only: after the write window, one closed-loop client
    fetches single conversations from the last write's output for another
    ``--seconds``, each checked against its source rows."""
    spark, tr, cfg = ctx.spark, ctx.tracer, ctx.cfg["pipeline"]
    # The keys are drawn up front so only their source rows are collected.
    rng = random.Random(ctx.seed)
    keys = [f"conv-{rng.randrange(n_convs):08d}" for _ in range(cfg["fetch_keys"])]
    expected: dict[str, list[tuple]] = {k: [] for k in keys}
    for r in (source.where(F.col("conv_id").isin(keys)).select(*TURN_COLS)
              .orderBy("conv_id", "turn_idx").collect()):
        expected[r["conv_id"]].append(tuple(r))
    next_key = itertools.cycle(keys)

    def read(timed: bool) -> float | None:
        key = next(next_key)
        with tr.span("lookup.fetch", conv_id=key) as sp:
            t0 = time.perf_counter()
            got = ctx.attempt(lambda: fetch(spark, out, key, tr))
            elapsed = time.perf_counter() - t0
        if got is None:
            return None
        q, rows = got
        if not ctx.check([tuple(r) for r in rows] == expected[key], f"{key}: fetched rows differ from source"):
            return None
        if timed:
            sp.update(plan_counters(q), planning_ms=planning_ms(q), result_rows=len(rows), timed=True)
        return elapsed

    for _ in range(cfg["warmup_fetches"]):
        read(timed=False)
    lat = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:
        el = read(timed=True)
        if el is not None:
            lat.append(el)
    ctx.mark(f"lookup done: {len(lat)} fetches")
    lookup_layers(ctx, lat)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return stats.median(out)


def ingest_layers(ctx, source, n_turns, catalog, out, path) -> None:
    """Cumulative prefixes of the pipeline, each forced through a noop sink;
    a layer's self time is the difference between consecutive prefixes."""
    spark, tr, reps = ctx.spark, ctx.tracer, ctx.cfg["pipeline"]["prefix_reps"]
    m = ctx.layer
    parsed = parse_turns(source)
    ids = assign_surrogate_ids(parsed, mode="hash")
    enriched = enrich_with_catalog(ids, catalog)
    labeled = label_sinks(enriched)
    prev = 0.0
    for name, df in (("scan", source), ("parse", parsed), ("ids", ids),
                     ("enrich", enriched), ("label", labeled)):
        with tr.span(f"ingest.prefix.{name}"):
            cum = _timed(lambda: _noop(df), reps)
        m[f"ingest.{name}_s"] = (max(cum - prev, 0.0), "s")
        prev = cum
    prefix = os.path.join(ctx.work, "prefix")
    with tr.span("ingest.prefix.write_routed"):
        cum = _timed(lambda: write_routed(labeled, prefix, suppress_text=True), reps)
    m["ingest.write_routed_s"] = (max(cum - prev, 0.0), "s")
    with tr.span("ingest.prefix.counts"):
        m["ingest.counts_s"] = (_timed(lambda: counts_from_routed(
            spark.read.parquet(f"{prefix}/routed"), "prefix").write.mode("overwrite")
            .parquet(f"{prefix}/sink_counts"), reps), "s")
    shutil.rmtree(prefix, ignore_errors=True)

    plan = build_labeled(source, catalog, id_mode="hash")
    plan._jdf.queryExecution().executedPlan()
    m["ingest.planning_ms"] = (planning_ms(plan), "ms")

    runs = [s for s in tr.by_name("ingest.run") if s.get("timed")]
    for key, unit in (("jobs", "count"), ("stages", "count"), ("shuffle_bytes", "bytes")):
        m[f"ingest.{key}"] = (stats.median([s[key] for s in runs]), unit)

    routed = spark.read.parquet(f"{out}/routed")
    per_sink = {r["sink"]: (r["n"], r["nulls"]) for r in routed.groupBy("sink").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("text").isNull().cast("long")).alias("nulls")).collect()}
    sizes = {}
    for sink in SINKS:
        sizes[sink] = sum(os.path.getsize(os.path.join(d, f))
                          for d, _, files in os.walk(os.path.join(out, "routed", f"sink={sink}"))
                          for f in files if f.endswith(".parquet"))
        m[f"ingest.rows.{sink}"] = (per_sink.get(sink, (0, 0))[0], "count")
        m[f"ingest.routed_bytes.{sink}"] = (sizes[sink], "bytes")
    m["ingest.routed_bytes_per_turn"] = (sum(sizes.values()) / n_turns, "bytes")
    m["ingest.text_suppressed_frac"] = (sum(v[1] for v in per_sink.values()) / n_turns, "ratio")

    # Single-threaded baseline: a fresh local[1] session, one warm-up run.
    single = ctx.restart(cores=1)
    src1 = single.read.parquet(path)
    cat1 = synthesize_tool_catalog(single, n_tools=CATALOG_TOOLS)
    out1 = os.path.join(ctx.work, "single")
    ingest(single, src1, cat1, out1, "single-warm")
    t0 = time.perf_counter()
    ingest(single, src1, cat1, out1, "single")
    m["ingest.single_core_turns_per_s"] = (n_turns / (time.perf_counter() - t0), "1/s")
    ctx.mark("layers done")


def lookup_layers(ctx, lat: list[float]) -> None:
    tr, m = ctx.tracer, ctx.layer
    fetches = [s for s in tr.by_name("lookup.fetch") if s.get("timed")]
    timed = {f["span_id"] for f in fetches}
    kids = [s for s in tr.spans if s.get("parent") in timed]
    for name in ("read_sinks", "reconstruct", "collect"):
        spans = [s for s in kids if s["name"] == f"lookup.{name}"]
        m[f"lookup.{name}_s"] = (stats.median([s["end"] - s["start"] for s in spans]), "s")
    m["lookup.planning_ms"] = (stats.median([f["planning_ms"] for f in fetches]), "ms")
    m["lookup.jobs"] = (stats.median([sum(s["jobs"] for s in kids if s["parent"] == f["span_id"])
                                      for f in fetches]), "count")
    m["lookup.scan_files"] = (stats.median([f["scan_files"] for f in fetches]), "count")
    m["lookup.scan_rows_per_result_row"] = (
        sum(f["scan_rows"] for f in fetches) / sum(f["result_rows"] for f in fetches), "ratio")
    m["lookup.p50_s"] = (stats.median(lat), "s")
    m["lookup.p90_s"] = (stats.percentile(lat, 90), "s")
    m["lookup.samples"] = (len(lat), "count")
    # The p90 above has fewer than ten samples beyond it; the artifact says
    # which tail percentile this many fetches does support, if any.
    p = stats.highest_supported_percentile(len(lat))
    ctx.notes["lookup_tail"] = {"samples": len(lat), "percentile": p,
                                "value_s": stats.percentile(lat, p) if p else None}
