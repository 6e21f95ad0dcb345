"""Benchmark of the gvcf_hbase_spark engine: batch passes over fixed fixtures.

One closed-loop client (this process) runs the query keys of a workload one
at a time on ``local[<cores>]``. Each key is timed as its builder call
``spec.fn(spark, fixture_dir)`` followed by a ``noop``-sink action; a pass is
every key of the workload once. The seed only permutes the key order of
each pass; the program always reads the same committed sf0.1 fixtures.

A run:
1. verifies the workload keys against their DuckDB oracles once per program
   version (``check.py``, in a separate process, cached under ``.work/``);
2. starts the session and imports the registry (``setup_s``);
3. runs one untimed pass that recomputes each key's output digest and
   compares it with the verified one;
4. runs the workload's warm-up passes, then the measured passes:
   ``--seconds`` of them at the workload's nominal pass time, at least
   four; ``pass_s`` is their median. Traced, each measured pass is traced
   and follows an untraced twin.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` it
alternates untraced and traced passes and prints the per-layer metrics of
the traced passes. The last stdout line is the result JSON; the line before
it is the run's context stamp. Usage:

    python3 perfbench/run.py --workload gvcf_pipeline --seed 1 --seconds 16 --trace 0
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import check
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Each workload is a subset of its key family, sized so that a run with its
# set-up fits the benchmark's time budget (README.md).
WORKLOADS = {
    # The paper's own surface: A1 parse -> A9 combine, block expansion and a
    # variant filter, the A5 bulk-put write beside a range-scan read. JVM
    # codegen and shuffle only; no Python workers.
    "gvcf_pipeline": [
        "source_gvcf_lines",
        "gvcf_combine",
        "win_expand_blocks",
        "filter_variant_sites",
        "scan_range_key",
        "sink_bulk_put",
    ],
    # Driver-side round loops (plan building, per-round checkpoints), the
    # one-compute boundary of the label-propagation graph, and the IVF
    # training loop with its mapInPandas/applyInPandas Python workers.
    "iterative_loops": [
        "graph_sssp_bounded",
        "hierarchy_flatten_bounded",
        "graph_lpa_communities",
        "sim_ann_ivf",
    ],
}

# Wall seconds of a warm pass of each workload on a 4-vCPU 2.1 GHz Xeon
# host. ``--seconds`` of measuring becomes a number of passes through it, so
# that a run does the same work, and reaches the same point of JVM warm-up,
# whatever the host's speed at the time.
NOMINAL_PASS_S = {"gvcf_pipeline": 3.6, "iterative_loops": 5.5}
MIN_MEASURED_PASSES = 4

# Untimed passes between the check pass and the measured ones. The JVM is
# still compiling after the check pass: the first two iterative_loops
# passes after it are 15-40 % slower than later ones and differ more from
# run to run; gvcf_pipeline settles after one.
WARMUP_PASSES = {"gvcf_pipeline": 1, "iterative_loops": 2}

# Settings handed to the program. The driver heap is below the engine's
# 8g default so a run stays small on a shared host.
DRIVER_MEM = "4g"
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
               "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS")

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "ok_frac": "frac", "peak_exec_mem_mb": "MB"}
PER_LAYER_UNITS = {
    "build_s": "s", "action_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "exec_run_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "core_util": "frac", "one_task_stage_s": "s", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "input_mb": "MB",
    "output_mb": "MB", "bulk_put_s": "s", "pyworker_cpu_s": "s",
    "jvm_cpu_s": "s", "driver_cpu_s": "s", "probe_calls": "count",
    "probe_s": "s", "boundary_calls": "count", "cut_calls": "count",
    "persisted_rdds": "count",
    "live_heap_mb": "MB", "trace_overhead_frac": "frac",
}


def fixture_dir(name: str = "sf0.1") -> str:
    return os.path.join(HERE, "fixtures", name)


def bench_hash() -> str:
    """Hash of the benchmark's own code and configuration."""
    h = hashlib.sha256()
    names = sorted(n for n in os.listdir(HERE) if n.endswith(".py"))
    for path in [os.path.join(ROOT, "BENCHMARK.json")] + [os.path.join(HERE, n) for n in names]:
        with open(path, "rb") as f:
            h.update(os.path.basename(path).encode() + f.read())
    return h.hexdigest()[:16]


def fingerprint(fixtures: str, keys) -> str:
    """Hash of what a verification depends on: the program, the checks,
    the fixtures and the keys."""
    h = hashlib.sha256(" ".join(keys).encode())
    files = [os.path.join(ROOT, "tests", "conftest.py"),
             os.path.join(ROOT, "scripts", "driver_mirror.py"),
             os.path.join(HERE, "check.py")]
    for d, dirs, names in os.walk(os.path.join(ROOT, "gvcf_hbase_spark")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    files += [os.path.join(fixtures, n) for n in sorted(os.listdir(fixtures))]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_verified(fixtures: str) -> tuple[str, dict]:
    """Program fingerprint, and the oracle verdicts and digests of every
    workload key, verified once per program version in a child process."""
    keys = sorted({k for ks in WORKLOADS.values() for k in ks})
    program = fingerprint(fixtures, keys)
    path = os.path.join(WORK, f"verified-{os.path.basename(fixtures)}-{program}.json")
    if not os.path.exists(path):
        tmp = path + f".{os.getpid()}.tmp"
        subprocess.run([sys.executable, os.path.join(HERE, "check.py"), fixtures, tmp, *keys],
                       check=True, stdout=sys.stderr, cwd=os.environ["TMPDIR"])
        os.replace(tmp, path)
    with open(path) as f:
        return program, json.load(f)


def start_program(app_name: str):
    """Set-up: start the session and import the query registry. Returns
    ``(spark, specs, seconds)``."""
    t0 = time.perf_counter()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from gvcf_hbase_spark.registry import load_all
    from gvcf_hbase_spark.session import get_spark

    spark = get_spark(app_name)
    specs = load_all()
    return spark, specs, time.perf_counter() - t0


def program_env(run_dir: str, cores: int) -> None:
    """Environment the JVM and its Python workers inherit. Executor Python
    workers do not see a driver-side ``sys.path`` edit, so the package root
    goes on ``PYTHONPATH``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def git_sha() -> str | None:
    try:
        if not os.path.exists(os.path.join(ROOT, ".git")):
            return None
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def run_pass(spark, specs, keys, fixtures, sink) -> tuple[float, list[dict]]:
    """Run ``keys`` in order; ``sink(key, df) -> bool`` is the action and
    the output check. A key that raises counts as failed and the pass goes
    on."""
    sc = spark.sparkContext
    recs = []
    t0 = time.perf_counter()
    for key in keys:
        sc.setJobGroup(key, key)
        a = time.perf_counter()
        b = None
        try:
            df = specs[key].fn(spark, fixtures)
            b = time.perf_counter()
            ok = sink(key, df)
        except Exception:
            traceback.print_exc(limit=3, file=sys.stderr)
            ok = False
        c = time.perf_counter()
        b = b or c
        recs.append({"key": key, "ok": bool(ok), "build_s": b - a, "action_s": c - b})
    return time.perf_counter() - t0, recs


def noop_sink(key, df) -> bool:
    df.write.format("noop").mode("overwrite").save()
    return True


def layer_metrics(wall, recs, stages, jobs, cpu0, cpu1, wrapped, status, cores) -> dict:
    mb = layers.MB
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    return {
        "build_s": sum(r["build_s"] for r in recs),
        "action_s": sum(r["action_s"] for r in recs),
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "exec_run_s": run_s,
        "exec_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "core_util": run_s / (wall * cores),
        "one_task_stage_s": sum(s["run_ms"] for s in stages if s["tasks"] == 1) / 1e3,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / mb,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / mb,
        "spill_mb": sum(s["spill"] for s in stages) / mb,
        "input_mb": sum(s["input"] for s in stages) / mb,
        "output_mb": sum(s["output"] for s in stages) / mb,
        "bulk_put_s": wrapped["bulk_put_s"],
        "pyworker_cpu_s": cpu1["pyworker"] - cpu0["pyworker"],
        "jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
        "driver_cpu_s": cpu1["driver"] - cpu0["driver"],
        "probe_calls": wrapped["probe_calls"],
        "probe_s": wrapped["probe_s"],
        "boundary_calls": wrapped["boundary_calls"],
        "cut_calls": wrapped["cut_calls"],
        "persisted_rdds": status.persisted_rdds(),
        "live_heap_mb": status.live_heap_mb(),
    }


def measured_passes(workload: str, seconds: float) -> int:
    """Passes that ``pass_s`` is the median of: ``seconds`` of nominal
    passes, and at least ``MIN_MEASURED_PASSES``."""
    return max(MIN_MEASURED_PASSES, round(seconds / NOMINAL_PASS_S[workload]))


def measure(spark, specs, keys, fixtures, verified, seed, measured, trace, cores,
            warmup=1):
    """Untimed check pass, ``warmup`` untimed passes, then ``measured``
    passes, each after an untraced twin when traced. Returns
    ``(attempted, failed, metrics, log)``; ``metrics`` maps names to values
    and lacks ``setup_s``."""
    rng = random.Random(seed)

    def order():
        ks = list(keys)
        rng.shuffle(ks)
        return ks

    def check_sink(key, df):
        want = verified[key]
        got = check.digest(df, full=want["how"] == "oracle")
        return want["ok"] and got == want["digest"]

    # The check pass runs in the fixed key order, so that the state it
    # leaves does not depend on the seed.
    status = layers.StatusStore(spark)
    _, checked = run_pass(spark, specs, keys, fixtures, check_sink)
    status.new_stages(detail=False)
    status.new_jobs()
    bad = {r["key"] for r in checked if not r["ok"]}
    executions = list(checked)
    spans = [dict(r, pass_no=-1) for r in checked]

    jvm = layers.jvm_pid()
    plain, traced, layer_rows = [], [], []
    for n in range(warmup + measured * (2 if trace else 1)):
        tracing = bool(trace) and n >= warmup and (n - warmup) % 2 == 1
        if tracing:
            cpu0 = layers.proc_cpu(jvm)
            with layers.Wrappers() as wrappers:
                wall, recs = run_pass(spark, specs, order(), fixtures, noop_sink)
            cpu1 = layers.proc_cpu(jvm)
            stages = status.new_stages(detail=True)
            jobs = status.new_jobs()
            layer_rows.append(layer_metrics(wall, recs, stages, jobs, cpu0, cpu1,
                                            wrappers.counts, status, cores))
            traced.append(wall)
            by_group = {}
            for j in jobs:
                by_group.setdefault(j["group"], []).extend(j["stages"])
            for r in recs:
                r["stage_ids"] = sorted(by_group.get(r["key"], []))
        else:
            wall, recs = run_pass(spark, specs, order(), fixtures, noop_sink)
            stages = status.new_stages(detail=False)
            if trace:
                # The same store reads and full collection as after a traced
                # pass, so the next pass starts alike either way.
                status.new_jobs()
                status.live_heap_mb()
            peak = max((s["peak_mem"] for s in stages), default=0) / layers.MB
            plain.append((wall, peak))
        executions += recs
        spans += [dict(r, pass_no=n, traced=tracing) for r in recs]

    attempted = len(executions)
    failed = sum(1 for r in executions if not r["ok"] or r["key"] in bad)
    log = {"bad_keys": sorted(bad), "pass_walls": [round(w, 4) for w, _ in plain],
           "pass_peaks": [round(p, 2) for _, p in plain],
           "traced_walls": [round(w, 4) for w in traced], "spans": spans}
    # The warm-up passes have no traced twins either.
    warm = plain[warmup:]
    if not trace:
        metrics = {
            "pass_s": statistics.median(w for w, _ in warm),
            "ok_frac": (attempted - failed) / attempted,
            # Smallest, not median: in about one pass of seven, whatever the
            # key order, a stage of iterative_loops peaks at 172.75 MB
            # instead of 108.36 MB.
            "peak_exec_mem_mb": min(p for _, p in warm),
        }
    else:
        metrics = {k: statistics.median(row[k] for row in layer_rows) for k in layer_rows[0]}
        untraced = statistics.median(w for w, _ in warm)
        metrics["trace_overhead_frac"] = statistics.median(traced) / untraced - 1.0
    return attempted, failed, metrics, log


def report(attempted: int, failed: int, metrics: dict, trace: int) -> dict:
    """The result line: every metric of the run's kind with its unit."""
    units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "gvcf_hbase_spark", "registry.py")):
        print(f"program not found: {ROOT}/gvcf_hbase_spark", file=sys.stderr)
        return 2
    fixtures = fixture_dir()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    program_env(run_dir, cores)
    os.chdir(os.environ["TMPDIR"])
    steal0, total0 = cpu_ticks()
    load0 = os.getloadavg()
    try:
        program, verified = ensure_verified(fixtures)
        spark, specs, setup_s = start_program(f"perfbench-{args.workload}")
        try:
            attempted, failed, metrics, log = measure(
                spark, specs, WORKLOADS[args.workload], fixtures, verified,
                args.seed, measured_passes(args.workload, args.seconds), args.trace, cores,
                WARMUP_PASSES[args.workload])
        finally:
            layers.stop_spark(spark)
        metrics["setup_s"] = setup_s
        steal1, total1 = cpu_ticks()
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(WORK, "traces", name), "w") as f:
            json.dump(log["spans"], f, indent=1)
        context = {
            "workload": args.workload, "keys": WORKLOADS[args.workload],
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "passes": len(log["pass_walls"]) + len(log["traced_walls"]),
            "warmup_passes": WARMUP_PASSES[args.workload],
            "pass_walls": log["pass_walls"], "traced_walls": log["traced_walls"],
            "pass_peak_mem_mb": log["pass_peaks"],
            "bad_keys": log["bad_keys"],
            "failed_checks": {k: v["detail"] for k, v in verified.items()
                              if k in WORKLOADS[args.workload] and not v["ok"]},
            "cores": cores, "driver_mem": DRIVER_MEM,
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
            "timestamp": datetime.datetime.now(datetime.timezone.utc).isoformat(),
            "git_sha": git_sha(),
            "program_hash": program, "bench_hash": bench_hash(),
            "fixtures": os.path.basename(fixtures),
            "thread_vars": {v: os.environ.get(v) for v in THREAD_VARS},
        }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(report(attempted, failed, metrics, args.trace)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
