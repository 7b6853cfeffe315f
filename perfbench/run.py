#!/usr/bin/env python3
"""Benchmark of the dbfs_spark_cache_spark engine: one workload per run.

    python3 perfbench/run.py --workload operators --seed 1 --seconds 10 --trace 0

Workloads: ``operators`` and ``cache`` (workloads.py).
Run from the repository root. Each run is one fresh process that generates
its inputs from ``--seed`` under ``.perfbench_work/`` (removed at exit),
starts a local Spark session with at most ``nproc`` (capped at 4) cores, sets
up the workload, then repeats passes for ``--seconds`` seconds (at least one
pass). Every output is checked; a failed check counts in ``failed`` and the
run exits 1. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The line before it carries diagnostics: sample counts, the wall-clock
latencies (``samples.latencies``), ``fail_frac`` (failed / attempted) and
the first failures.

With ``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``); with ``--trace 1`` passes alternate untraced and traced, the
engine's public functions are wrapped (tracer.py) and the metrics are the
per-layer ones: ``<layer>.calls`` per pass and ``<layer>.ms`` self time per
pass, plus Spark stage counters, derived ratios and the tracing overhead.
Spans are written to ``.perfbench_out/trace_<workload>.jsonl``.
"""
from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dbfs_spark_cache_spark"
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "1536m"

SPARK_COUNTS = ["jobs", "stages", "tasks", "failed_tasks", "single_task_stages"]
SPARK_AMOUNTS = [
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("input_mb", "MB"),
    ("output_mb", "MB"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
]
HIT_KINDS, MISS_KINDS = {"hit", "create_hit"}, {"miss", "create_miss"}
# Operations whose latencies make up op_p50_ms / op_p90_ms.
OP_KINDS = {"query", "management"} | HIT_KINDS | MISS_KINDS


# Wall-clock latencies of a run swing by 30-100% between runs on a shared
# 4-core host (slow spells of ~20 s cover a whole pass), more than any
# bound a benchmark may set, so they are printed on the diagnostics line
# and summarized by steady.py, and only the steadier figures are metrics.
END_TO_END = {"setup_s": "s", "process_cpu_s": "s", "executor_cpu_s": "s", "store_mb": "MB",
              "peak_rss_mb": "MB", "ok_frac": "ratio"}
LATENCIES = ["pass_s", "op_p50_ms", "op_p90_ms", "hit_p50_ms", "hit_p90_ms", "miss_p50_ms"]


def per_layer_units() -> dict:
    from tracer import TARGETS, layer_name
    from workloads import HEADLINE

    units = {"session.get_spark.ms": "ms"}
    for m in dict.fromkeys(HEADLINE.values()):
        units[f"operators.{m}.build_ms"] = units[f"operators.{m}.exec_ms"] = "ms"
    units.update({f"spark.{n}": "count" for n in SPARK_COUNTS})
    units.update({f"spark.{n}": u for n, u in SPARK_AMOUNTS})
    units["spark.slot_util"] = "ratio"
    for module, fn in TARGETS:
        if module != "session":
            units[f"{layer_name(module, fn)}.calls"] = "count"
            units[f"{layer_name(module, fn)}.ms"] = "ms"
    units.update({
        "hashing.hash_input_data.mb_per_s": "MB/s",
        "core.hit_ratio": "ratio", "core.probes": "count", "core.writes": "count",
        "core.write_skips": "count", "core.write_overhead_ms": "ms",
        "fs.ops_per_hit": "count", "fs.ops_per_miss": "count",
        "management.entries_scanned": "count", "management.entries_evicted": "count",
        "bench.trace_overhead_frac": "ratio",
    })
    return units


# ---------------------------------------------------------------------------

def isolate(work: str) -> None:
    """Keep every file the run writes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM, including spark-submit's launcher
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # the family the DuckDB oracles replay; timed passes use the same
        "SPARK_GRAFT_HASH_FAMILY": "portable",
        "SPARK_CACHE_DIR": os.path.join(work, "cache", "default") + "/",
        "DATABASE_PATH": os.path.join(work, "warehouse") + "/",
    })
    tempfile.tempdir = tmp


def start_spark(work: str):
    from dbfs_spark_cache_spark import session

    return session.get_spark(
        app_name="perfbench",
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
    return total_kb / 1024


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (0 for no samples)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------

def by_pass(records, kinds, q: float) -> tuple:
    """The ``q`` latency percentile of each pass's ``kinds`` records, and
    the median of those over passes: a slow spell of the host that covers
    one pass moves it less than a pooled percentile. Also the count."""
    groups: dict = {}
    for r in records:
        if r["kind"] in kinds:
            groups.setdefault(r["pass"], []).append(r["ms"])
    return median([pct(v, q) for v in groups.values()]), sum(map(len, groups.values()))


def end_to_end(h, setup_s: float, rss_mb: float):
    timed = [r for r in h.records if r["pass"] is not None]
    # The operators' staged stages miss only in the untimed warm-up.
    staged_hits = [r for r in h.staged if r["pass"] is not None]
    op_p50, n_ops = by_pass(timed, OP_KINDS, 0.5)
    hit_p50, n_hits = by_pass(timed + staged_hits, HIT_KINDS, 0.5)
    miss_p50, n_misses = by_pass(timed + h.staged, MISS_KINDS, 0.5)
    cpu = [sum(r["executorCpuTime"] for r in timed if r["pass"] == p["index"]) / 1e9
           for p in h.passes]
    process_cpu = [sum(r["cpu_s"] for r in timed if r["pass"] == p["index"]) for p in h.passes]
    metrics = {
        "setup_s": setup_s,
        "pass_s": median([p["wall_s"] for p in h.passes]),
        "op_p50_ms": op_p50, "op_p90_ms": by_pass(timed, OP_KINDS, 0.9)[0],
        "hit_p50_ms": hit_p50, "hit_p90_ms": by_pass(timed + staged_hits, HIT_KINDS, 0.9)[0],
        "miss_p50_ms": miss_p50,
        "process_cpu_s": median(process_cpu),
        "executor_cpu_s": median(cpu),
        "store_mb": median([p["store_bytes"] / 1e6 for p in h.passes]),
        "peak_rss_mb": rss_mb,
        "ok_frac": 1 - len(h.failures) / h.attempted,
    }
    samples = {"passes": len(h.passes), "ops": n_ops, "hits": n_hits, "misses": n_misses,
               "pass_walls_s": [round(p["wall_s"], 3) for p in h.passes]}
    return metrics, samples


def per_layer(h, tracer, get_spark_ms: float) -> dict:
    from tracer import Tracer

    out = dict.fromkeys(per_layer_units(), 0.0)
    out["session.get_spark.ms"] = get_spark_ms
    timed = [r for r in h.records if r["pass"] is not None]
    n_pass = len(h.passes)
    for r in timed:
        if r["kind"] == "query":
            out[f"operators.{r['module']}.build_ms"] += r["build_ms"] / n_pass
            out[f"operators.{r['module']}.exec_ms"] += r["exec_ms"] / n_pass
    sums = {
        "jobs": "jobs", "stages": "stages", "tasks": "numTasks",
        "failed_tasks": "numFailedTasks", "single_task_stages": "single_task_stages",
    }
    for name, field in sums.items():
        out[f"spark.{name}"] = sum(r[field] for r in timed) / n_pass
    scale = {"executor_run_s": ("executorRunTime", 1e3), "executor_cpu_s": ("executorCpuTime", 1e9),
             "input_mb": ("inputBytes", 1e6), "output_mb": ("outputBytes", 1e6),
             "shuffle_read_mb": ("shuffleReadBytes", 1e6),
             "shuffle_write_mb": ("shuffleWriteBytes", 1e6)}
    for name, (field, div) in scale.items():
        out[f"spark.{name}"] = sum(r[field] for r in timed) / div / n_pass
    out["spark.spill_mb"] = sum(r["memoryBytesSpilled"] + r["diskBytesSpilled"]
                                for r in timed) / 1e6 / n_pass
    busy_ms = sum(r["ms"] for r in timed)
    out["spark.slot_util"] = sum(r["executorRunTime"] for r in timed) / (busy_ms * h.cores) if busy_ms else 0.0

    counters = {k: sum(p["counters"][k] for p in h.passes) for k in ("hits", "misses", "writes", "write_skips")}
    probes = counters["hits"] + counters["misses"]
    out["core.hit_ratio"] = counters["hits"] / probes if probes else 0.0
    out["core.probes"] = probes / n_pass
    out["core.writes"] = counters["writes"] / n_pass
    out["core.write_skips"] = counters["write_skips"] / n_pass
    for key in ("entries_scanned", "entries_evicted"):
        out[f"management.{key}"] = sum(p.get(key, 0) for p in h.passes) / n_pass

    overheads = []
    for r in timed:
        if r["kind"] == "miss" and "df" in r:
            paired = [u for u in timed if u["kind"] == "uncached" and u["pass"] == r["pass"]
                      and u.get("df") == r["df"]]
            overheads += [r["ms"] - u["ms"] for u in paired]
    out["core.write_overhead_ms"] = median(overheads)

    traced = [p for p in h.passes if p["traced"]]
    untraced = [p for p in h.passes if not p["traced"]]
    out["bench.trace_overhead_frac"] = (
        median([p["wall_s"] for p in traced]) / median([p["wall_s"] for p in untraced]) - 1)
    kind_of = {r["op_id"]: r["kind"] for r in timed if any(
        p["traced"] and p["index"] == r["pass"] for p in h.passes)}
    spans = tracer.closed_spans(set(kind_of))
    self_s = Tracer.self_times(spans)
    n_traced = len(traced)
    hashed_bytes = hashed_s = 0.0
    fs_ops = {"hit": 0, "miss": 0}
    for s in spans:
        if s["name"].startswith("bench."):
            continue
        key = s["name"]
        if f"{key}.calls" in out:
            out[f"{key}.calls"] += 1 / n_traced
            out[f"{key}.ms"] += self_s[s["id"]] * 1e3 / n_traced
        if key == "hashing.hash_input_data":
            hashed_bytes += s.get("bytes", 0)
            hashed_s += self_s[s["id"]]
        kind = kind_of.get(s["op_id"])
        if key.startswith("fs.") and kind in HIT_KINDS | MISS_KINDS:
            fs_ops["hit" if kind in HIT_KINDS else "miss"] += 1
    out["hashing.hash_input_data.mb_per_s"] = hashed_bytes / 1e6 / hashed_s if hashed_s else 0.0
    n_hit = sum(k in HIT_KINDS for k in kind_of.values())
    n_miss = sum(k in MISS_KINDS for k in kind_of.values())
    out["fs.ops_per_hit"] = fs_ops["hit"] / n_hit if n_hit else 0.0
    out["fs.ops_per_miss"] = fs_ops["miss"] / n_miss if n_miss else 0.0
    return out


# ---------------------------------------------------------------------------

def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    spark = None
    try:
        import datagen
        import workloads
        from tracer import Tracer

        tracer = Tracer() if args.trace else None
        data_dir = os.path.join(work, "data")
        datagen.generate(data_dir, args.seed, args.sf)
        if tracer:
            tracer.start()
        t0 = time.perf_counter()
        spark = start_spark(work)
        get_spark_ms = (time.perf_counter() - t0) * 1e3
        if tracer:
            tracer.stop()
        h = workloads.Harness(spark, work, CORES, tracer=tracer, corrupt=args.corrupt_output)
        wl = workloads.WORKLOADS[args.workload](h, args.seed, data_dir)
        spark_at = time.monotonic()
        wl.setup()
        h.run_passes(args.seconds, wl.one_pass)
        setup_s = h.first_op_at - START
        rss = peak_rss_mb(h.pids)
        if tracer:
            metrics = per_layer(h, tracer, get_spark_ms)
            units = per_layer_units()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"trace_{args.workload}.jsonl"))
            samples = {"passes": len(h.passes), "spans": len(tracer.spans)}
        else:
            figures, samples = end_to_end(h, setup_s, rss)
            samples["latencies"] = {k: figures[k] for k in LATENCIES}
            metrics = {k: figures[k] for k in END_TO_END}
            units = END_TO_END
        failed = len(h.failures)
        print(json.dumps({"diagnostics": {
            "workload": args.workload, "seed": args.seed, "samples": samples,
            "fail_frac": failed / h.attempted, "session_at_s": spark_at - START,
            "failures": h.failures[:5]}}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": h.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # the last run leaves no directory behind
            os.rmdir(os.path.dirname(work))


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["operators", "cache"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="fixture scale factor (smoke.py runs 0.001)")
    ap.add_argument("--corrupt-output", action="store_true",
                    help="tamper with the first checked output (smoke.py uses "
                         "this to show a wrong output is counted)")
    return ap.parse_args(argv)


if __name__ == "__main__":
    sys.exit(run(parse()))
