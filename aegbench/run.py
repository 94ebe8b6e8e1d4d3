"""End-to-end benchmark of aegisthus_spark, run from the root of a checkout:

    python3 aegbench/run.py --workload snapshot_merge --seed 1 --seconds 10 --trace 0

Prints progress to stderr, one JSON line of run details, and as the last
line the result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` a
separate traced phase follows the same warm-up and the metrics are the
per-layer ones. Pass counts are fixed per workload; ``--seconds`` is
accepted for the common benchmark interface and adds no passes. See
``aegbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "1g"

#: (name, unit) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = (
    ("setup_s", "s"), ("wall_s", "s"), ("cells_per_s", "cells/s"), ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)
#: (name, unit) of every per-layer metric; the layer is the name's prefix
PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.discover_s", "s"), ("sources.plan_s", "s"), ("sources.splits", "count"),
    ("sources.split_skew", "x"),
    ("sstable.decode_s", "s"), ("sstable.cells", "count"), ("sstable.mb_per_s", "MB/s"),
    ("sstable.task_skew", "x"),
    ("compact.self_s", "s"), ("compact.cells_in", "count"), ("compact.cells_out", "count"),
    ("compact.keep_ratio", "ratio"), ("compact.rows_out", "count"),
    ("compact.shuffle_bytes", "B"), ("compact.spill_bytes", "B"),
    ("output.self_s", "s"), ("output.rows", "count"), ("output.bytes", "B"),
    ("streaming.batch_s", "s"), ("streaming.bytes_written", "B"),
    ("streaming.write_amplification", "x"),
    ("queries.construct_s", "s"), ("queries.execute_s", "s"),
    ("queries.q1_pricing_summary_s", "s"), ("queries.q18_large_volume_customers_s", "s"),
    ("queries.aeg_compact_s", "s"), ("queries.aeg_cql_pivot_s", "s"),
    ("queries.text_bm25_topk_s", "s"), ("queries.dedup_ngram_coverage_s", "s"),
    ("queries.text_token_stats_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.shuffle_bytes", "B"), ("spark.spill_bytes", "B"),
    ("trace.overhead_x", "x"),
)


def log(msg: str) -> None:
    print(f"[aegbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def bound(metric: str) -> float:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == metric)


class Checks:
    """Output checks and pass failures, counted against attempts."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.log: list[dict] = []

    def add(self, name: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        self.failed += not ok
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
            self.log.append({"check": name, "detail": detail})


class Context:
    def __init__(self, args) -> None:
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".bench_work")
        self.corpora = os.path.join(self.work, "corpora")
        self.rundir = os.path.join(self.work, f"run-{os.getpid()}")
        self.cpus = min(4, len(os.sched_getaffinity(0)))


def isolate(ctx: Context) -> None:
    """Keep every scratch file of Spark, the JVM and Python under the
    checkout, and let Spark's Python workers import the checkout."""
    tmp = os.path.join(ctx.rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cache = os.path.join(ctx.work, "tmp")  # compiled scanner cache, kept across runs
    os.makedirs(cache, mode=0o700, exist_ok=True)
    os.environ["TMPDIR"] = cache
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata file: HotSpot writes it to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["AEGISTHUS_DRIVER_MEM"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(ctx.rundir)  # spark-warehouse and friends land in the run dir
    import tempfile

    tempfile.tempdir = cache


def jvm_pid() -> int:
    """The Spark driver JVM, root of the tree whose memory is reported:
    the JVM, the Python daemon and its workers. The benchmark's own
    process is left out, since it also hosts corpus generation and the
    DuckDB oracle."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown(spark, probes) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while len(probes.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in probes.tree_pids()[1:]:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, 9)


def steadiness(walls: list[float], limit: float) -> tuple[bool, float]:
    """Median of the first half vs the second half of the timed passes."""
    half = max(1, len(walls) // 2)
    a, b = statistics.median(walls[:half]), statistics.median(walls[-half:])
    drift = (b - a) / statistics.median(walls)
    return abs(drift) <= limit, drift


def run(args) -> int:
    ctx = Context(args)
    if not os.path.isdir(os.path.join(ROOT, "aegisthus_spark")):
        log(f"no aegisthus_spark package beside {HERE}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from aegbench import probes
    from aegbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    isolate(ctx)
    wl = WORKLOADS[args.workload](ctx)
    checks = Checks()
    iso = probes.Isolation()
    log(f"{wl.name}: preparing corpus for seed {ctx.seed}")
    manifest = wl.prepare()

    def sample_pass(i: int, timed: bool) -> dict | None:
        """One untraced pass with its wall, CPU and memory samples; None
        (and a failed operation) if the engine raised."""
        wl.before_pass(i)
        wl.spark.sparkContext.setJobGroup(f"p{i}", f"{wl.name} pass {i}")
        pids = probes.tree_pids()
        c0, t0 = probes.tree_cpu_s(pids), time.perf_counter()
        try:
            wl.run_pass(i)
        except Exception as e:  # an engine failure is a result, not a crash
            traceback.print_exc()
            checks.add(f"pass {i} ran", False, repr(e)[:300])
            return None
        wall = time.perf_counter() - t0
        rec = {"pass": i, "wall_s": wall, "cpu_s": probes.tree_cpu_s() - c0,
               "hwm_mb": probes.tree_hwm_mb(probes.tree_pids(jvm_pid())),
               "cells": wl.cells_per_pass(i),
               "timed": timed, **iso.stamp(), **wl.pass_details()}
        if i > 0:
            problems = wl.check_pass(i, wl.pass_digest(i))
            checks.add(f"pass {i} output", not problems, problems)
        return rec

    from aegisthus_spark.session import get_spark

    t0 = time.perf_counter()
    wl.spark = get_spark(f"aegbench-{wl.name}", cpus=ctx.cpus)
    try:
        session_start = time.perf_counter() - t0
        wl.open()
        first = sample_pass(0, timed=False)
        if first is None:
            return 1
        setup_s = time.perf_counter() - t0
        log(f"set-up {setup_s:.2f}s (session {session_start:.2f}s, "
            f"cold pass {first['wall_s']:.2f}s)")
        wl.verify_first(checks)
        # fixed pass counts: a faster commit gets no extra passes, so every
        # commit is measured at the same point of the warm-up curve
        passes = [first] + [sample_pass(i, timed=False) for i in range(1, wl.warmup + 1)]
        first_timed = wl.warmup + 1
        timed = [rec for i in range(first_timed, first_timed + wl.timed)
                 if (rec := sample_pass(i, timed=True))]
        if not timed:
            return 1
        passes = [p for p in passes if p] + timed
        walls = [p["wall_s"] for p in timed]
        steady, drift = steadiness(walls, bound("wall_s"))
        if not steady:
            log(f"UNSTEADY: the second half of the timed passes drifted {drift:+.1%}")
        result: dict = {}
        if ctx.trace:
            result = traced_phase(ctx, wl, timed, probes, checks, first_timed + wl.timed,
                                  sample_pass, passes)
    finally:
        shutdown(wl.spark, probes)
    peak = max(p["hwm_mb"] for p in passes)
    if not ctx.trace:
        wall = statistics.median(walls)
        result = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "cells_per_s": (statistics.median(p["cells"] / p["wall_s"] for p in timed), "cells/s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in timed), "s"),
            "peak_rss_mb": (peak, "MB"),
        }
    else:
        result["session.start_s"] = (session_start, "s")
    details = {
        "workload": wl.name, "seed": ctx.seed, "cpus": ctx.cpus, "heap": HEAP,
        "warmup_passes": wl.warmup, "timed_passes": len(timed), "setup_s": setup_s,
        "session_start_s": session_start, "steady": steady, "drift": drift,
        "manifest": _brief(manifest),
        "passes": passes, "failed_checks": checks.log,
    }
    print(json.dumps(details, default=str))
    if ctx.trace:
        metrics = assemble(result, PER_LAYER, wl.layers)
    else:
        metrics = assemble(result, END_TO_END, None)
    print(json.dumps({"correct": checks.failed == 0, "attempted": checks.attempted + len(passes),
                      "failed": checks.failed, "metrics": metrics}))
    return 0


def traced_phase(ctx, wl, timed, probes, checks, first: int, sample_pass, passes) -> dict:
    """``wl.traced`` traced passes after the same warm-up and untraced
    passes, then one more untraced pass; spans are written to the run's
    work directory when the phase ends."""
    tracer = probes.Tracer()
    counts = probes.SparkCounts(wl.spark)
    per_pass = [counts.group(wl.job_group(p["pass"])) for p in timed]
    wl.trace_setup(checks)
    traced: list[dict] = []
    for i in range(first, first + wl.traced):
        wl.before_pass(i)
        tracer.new_trace()
        traced.append(wl.traced_pass(i, tracer, counts))
        problems = wl.check_traced(traced[-1]) + wl.check_pass(i, wl.pass_digest(i))
        checks.add(f"traced pass {i}", not problems, problems)
    # the untraced passes on either side of the traced ones: passes still
    # speed up a little, and the mean of the two cancels that drift
    after = sample_pass(first + wl.traced, timed=False) or timed[-1]
    passes += [after] if after is not timed[-1] else []
    base = (timed[-1]["wall_s"] + after["wall_s"]) / 2
    spans = os.path.join(ctx.rundir, "..", f"spans-{wl.name}-{ctx.seed}.json")
    with open(spans, "w") as f:
        json.dump(tracer.spans, f)
    out = {}
    names = {k for t in traced for k in t}
    for k in names:
        out[k] = statistics.median(t[k] for t in traced)
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
        out[f"spark.{k}"] = statistics.median(c[k] for c in per_pass)
    out["trace.overhead_x"] = out.pop("trace.pass_s") / base
    units = dict(PER_LAYER)
    return {k: (v, units.get(k, "")) for k, v in out.items() if k in units}


def assemble(measured: dict, declared, layers) -> dict:
    """The result's metrics: every declared (name, unit), each from
    ``measured``. With ``layers`` given, a metric of a layer the workload
    does not run reads 0, and measuring one is an error."""
    out = {}
    for name, unit in declared:
        runs = layers is None or name.split(".")[0] in layers
        if runs != (name in measured):
            raise ValueError(f"metric {name}: layer runs={runs}, measured={name in measured}")
        out[name] = {"value": measured[name][0] if runs else 0, "unit": unit}
    return out


def _brief(manifest: dict) -> dict:
    return {k: v for k, v in manifest.items() if not isinstance(v, list)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10,
                    help="accepted for the common interface; pass counts are fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
