"""Layered benchmark of the telemetry pipeline on the host it runs on.

    python3 perfbench/run.py --workload {pipeline,query_surface} \
        --seed N --seconds S --trace {0,1} [--tiny]

Run from the root of a checkout. One process, ``local[<nproc>]``, one client
thread. Set-up (session start, seeded inputs, warm-up) is timed as
``setup_s`` and never enters the timed window; the window then repeats the
workload's operation for ``--seconds``; every output is checked outside the
timed operations, and each failure counts in ``failed``. The last stdout line is one
JSON object: the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1`` (a layer the workload never calls reads
0). A line before it carries the host facts; a traced run also writes its
spans under ``.perfbench_work/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, stats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

PROGRAM = ("otel_arrow_adapter_spark/__init__.py", "__spark_entry__.py", "bench.py",
           "tools/oracle_check.py")

SIZES = {
    "full": {
        "pipeline": {"convs": 3000, "turns": 90_000, "warmup_runs": 5, "timed_runs": 5,
                     "warmup_fetches": 10, "fetch_keys": 100, "prefix_reps": 1},
        "query_surface": {"queries": 6, "timed_passes": 1},
    },
    "tiny": {
        "pipeline": {"convs": 60, "turns": 2_000, "warmup_runs": 1, "timed_runs": 1,
                     "warmup_fetches": 1, "fetch_keys": 100, "prefix_reps": 1},
        "query_surface": {"queries": 3, "timed_passes": 1},
    },
}


class Ctx:
    """What a workload needs: session, tracer, sizes, and the counters and
    timings it reports back."""

    def __init__(self, root, work, seed, seconds, cfg, tracer, heap_mb):
        self.root, self.work, self.seed, self.seconds = root, work, seed, seconds
        self.cfg, self.tracer, self.heap_mb = cfg, tracer, heap_mb
        self.spark = None
        self.attempted = self.failed = 0
        self.layer: dict[str, tuple[float, str]] = {}
        self.notes: dict = {}
        self.result: dict = {}

    def mark(self, what: str) -> None:
        """Note on stderr, and in the trace artifact, when a step ended."""
        at = round(time.perf_counter() - T_START, 3)
        self.notes.setdefault("marks", []).append((what, at))
        print(f"perfbench {at:8.2f}s {what}", file=sys.stderr)

    def attempt(self, fn):
        """Run one program operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - counted, reported, and the run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failed += 1
            print(f"MISMATCH {what}", file=sys.stderr)
        return ok

    def start_window(self) -> None:
        import bench

        self.setup_s = time.perf_counter() - T_START
        self.mark("set-up done")
        self._ticks = bench.cpu_ticks()
        self._t_window = time.perf_counter()

    def window_open(self, started: int, least: int) -> bool:
        """Whether to start another operation: the window lasts ``--seconds``,
        holds at least ``least`` operations, and completes the one in
        progress when it closes."""
        return started < least or time.perf_counter() - self._t_window < self.seconds

    def end_window(self) -> None:
        import bench

        user0, steal0 = self._ticks
        user1, steal1 = bench.cpu_ticks()
        self.steal_user = (steal1 - steal0) / max(1, user1 - user0)
        self.mark("window done")

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, its JVM and their workers."""
        return host.tree_cpu_s(os.getpid())

    def report(self, throughput: float, cpu_s_per_op: float, samples: dict) -> None:
        self.result = {"throughput": throughput, "cpu_s_per_op": cpu_s_per_op, "samples": samples}

    def restart(self, cores: int):
        host.stop_spark(self.spark)
        self.spark = self.tracer.spark = host.start_spark(cores, self.heap_mb, self.work)
        return self.spark


def parse_args(argv, spec: dict):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    args = parse_args(argv, spec)
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None

    import bench

    cores, mem_mb = host.nproc(), host.mem_total_mb()
    heap_mb = host.driver_heap_mb(mem_mb)
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(ROOT, work, args.seed, args.seconds, SIZES["tiny" if args.tiny else "full"],
              tracer, heap_mb)
    ctx.spark = tracer.spark = host.start_spark(cores, heap_mb, work)
    ctx.mark("session started")
    try:
        importlib.import_module(f"perfbench.{args.workload}").run(ctx)
        rss = host.peak_rss_mb([os.getpid(), host.jvm_pid()])
    finally:
        host.stop_spark(ctx.spark)

    facts = {"cores": cores, "mem_total_mb": mem_mb, "driver_heap_mb": heap_mb,
             "steal_user_ratio": ctx.steal_user, "samples": ctx.result["samples"]}
    if args.trace:
        probe = bench.cpu_probe(1, cores)
        facts["cpu_probe"] = probe
        facts["cpu_probe_efficiency"] = probe[cores] / (cores * probe[1])
    print(json.dumps({"host": facts}))
    ctx.mark("done")

    frac = stats.failed_frac(ctx.failed, ctx.attempted)
    if args.trace:
        ctx.layer.update({
            "host.cores": (cores, "count"), "host.mem_total_mb": (mem_mb, "MB"),
            "host.driver_heap_mb": (heap_mb, "MB"),
            "host.cpu_probe_efficiency": (facts["cpu_probe_efficiency"], "ratio"),
            "host.steal_user_ratio": (ctx.steal_user, "ratio"),
            "failed_frac": (frac, "ratio"),
            "trace.throughput_per_s": (ctx.result["throughput"], "1/s"),
            "trace.spans": (len(tracer.spans), "count"),
        })
        metrics = {m["name"]: {"value": ctx.layer.get(m["name"], (0, m["unit"]))[0], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench_work", "traces", f"{run_id}.json"),
                     {"host": facts, "metrics": metrics, "notes": ctx.notes})
    else:
        values = {"setup_s": ctx.setup_s, "throughput_per_s": ctx.result["throughput"],
                  "cpu_s_per_op": ctx.result["cpu_s_per_op"], "peak_rss_mb": rss}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for name in os.listdir(work):
        shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
