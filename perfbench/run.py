#!/usr/bin/env python3
"""graft benchmark: two workloads of inventory queries, run through the
program's public entry points only (graft.SparkEntry.queries and the
spark.sql.extensions conf).

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 20 --trace 0

One process per run. Load model: one JVM, local[n] with n = nproc capped
at 4, spark.sql.shuffle.partitions = n, the same session confs as
graft.Bench, a closed loop with one client (one query at a time, each
built and written to the noop sink before the next starts). The seed
shuffles the query order of every pass; the data are the repository's
seed-42 fixtures, copied into perfbench/data.

A run is: start the JVM and the session; one untimed check pass that
collects every result and fingerprints it (it is also the first warm-up
pass); one noop warm-up pass; then a fixed number of timed passes, as
many as take --seconds on a nominal machine, so that every run times the
same passes of the warm-up curve. The check pass's fingerprints are
compared with
perfbench/reference/<sf>.json, made on Spark's row path. Timings are
scaled by a machine-speed probe read before every timed pass, because a
shared host drifts by tens of percent within minutes (WORKLOADS.md).

The last line of stdout is one JSON object: correct, attempted, failed
and the metrics, end-to-end ones with --trace 0 and per-layer ones with
--trace 1. A traced run alternates untraced and traced passes; the
per-layer figures come from the traced ones and their pass time against
the untraced ones is the tracing overhead. Every run also appends a full
record (all metrics, the warm-up curve, the environment) to
.bench_build/runs/<workload>.jsonl, which compare.py reads.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
SF = "sf0.01"
MAX_CORES = 4
# Noop warm-up passes after the check pass (WORKLOADS.md, "Warm-up curve").
WARMUP_PASSES = 1
# Timings are scaled to a machine on which the speed probe (SpeedProbe,
# read three times before every timed pass; the run's median reading)
# takes this long per thread: wall times by its wall time, CPU times by
# its CPU time; see WORKLOADS.md.
PROBE_NOMINAL_S = 0.25
# A run makes a fixed number of timed passes: as many as take --seconds
# on that machine, at these seconds per pass (WORKLOADS.md, "Timed
# passes").
NOMINAL_PASS_S = {"tpch": 4.5, "llm-pipeline": 5.5}
RUN_LIMIT_S = 170

# Two workloads that share layers in opposite shapes (see WORKLOADS.md).
WORKLOADS = {
    "tpch": [
        "q01_tpch_q1", "q03_join_agg_topk", "q87_tpch_q5", "q89_tpch_q18",
        "q90_tpch_q21", "q97_tpch_q6", "q118_tpch_q2", "q119_tpch_q9",
    ],
    "llm-pipeline": [
        "q188_window_mixed_kinds", "q189_window_suffix", "q46_dedup_ngram_jaccard",
        "q47_dedup_minhash_lsh", "q74_llm_prep_pipeline",
    ],
}

END_TO_END = ["setup_s", "pass_s", "query_p50_s", "query_p90_s", "cpu_s"]

# Per-layer metrics of a traced run and their units, named after the
# layer they measure.
PER_LAYER = {
    "build.s": "s", "build.jobs": "count", "build.sql_execs": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "plan.graft_rule_ms": "ms", "plan.nodes": "count", "plan.graft_nodes": "count",
    "plan.fallback_nodes": "count", "plan.columnar_ratio": "ratio",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_s": "s", "sched.driver_gap_s": "s", "sched.task_overhead_s": "s",
    "sched.slot_util": "ratio",
    "op.task_run_s": "s", "op.task_cpu_s": "s", "op.graft_rows_out": "count",
    "op.graft_timed_ms": "ms", "op.agg_bailouts": "count", "op.window_degraded": "count",
    "op.peak_exec_mem_mb": "MB",
    "gc.task_s": "s", "gc.process_s": "s", "gc.count": "count", "jvm.jit_cpu_s": "s",
    "jvm.peak_rss_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.memory_mb": "MB", "spill.disk_mb": "MB", "scan.input_mb": "MB",
    "trace.overhead_frac": "ratio", "failed_frac": "ratio",
}

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def steal_s():
    """Seconds of CPU time the hypervisor took from this machine so far."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return -1.0


def git_commit():
    try:
        res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return res.stdout.strip() if res.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def percentile(vals, q, steps=64):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of
    all order statistics, steadier than a single order statistic on the
    few, lumpy samples of one run."""
    xs = sorted(vals)
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(t):
        return math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta) \
            if 0 < t < 1 else 0.0

    total = 0.0
    for i, x in enumerate(xs):  # Simpson's rule over [i/n, (i+1)/n]
        lo, h = i / n, 1 / (n * steps)
        inner = sum((4 if k % 2 else 2) * pdf(lo + k * h) for k in range(1, steps))
        total += x * (pdf(lo) + inner + pdf(lo + steps * h)) * h / 3
    return total


def tail_percentile(n, want=0.9, beyond=10):
    """The highest percentile up to `want` with at least `beyond` of n
    samples above it, never below the median."""
    return max(0.5, min(want, (n - beyond) / n)) if n else want


def launch(args, queries, mode, out_path, extra, timeout):
    cp = build.build()
    tmp = os.path.join(OUT, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # A fixed heap size, so that no run times the heap growing; compiler
    # threads that never exit, so that their CPU is counted (cpu_s).
    cmd += [
        "-Xms3g", "-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "org.apache.spark.graftbench.PerfBench",
        f"mode={mode}", f"data={args.data}", f"queries={','.join(queries)}",
        f"out={out_path}", f"cores={min(MAX_CORES, os.cpu_count() or 1)}",
    ] + extra
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    log_path = os.path.join(OUT, "logs", f"{args.workload}-{mode}-{args.seed}.log")
    with open(log_path, "w") as log:
        started = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=ROOT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: run exceeded {timeout:.0f} s; log in {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(out_path):
        sys.exit(f"perfbench: harness failed ({code}); log in {log_path}")
    with open(out_path) as fh:
        return json.load(fh), started


def metrics_of(rec, started, reference, queries):
    """Metrics, attempted, failed and detail of one run record launched
    at time `started`."""
    timed = [p for p in rec["passes"] if p["kind"] == "timed"]
    probes = [x for p in timed for x in p["probe_s"]]
    cpu_probes = [x for p in timed for x in p["probe_cpu_s"]]
    plain = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    raw_samples = sorted(q["wall_s"] for p in plain for q in p["queries"].values() if q["ok"])
    tail = tail_percentile(len(raw_samples))
    raw_setup = rec["first_timed_ms"] / 1e3 - started

    def end_to_end(scale, cpu_scale):
        samples = [x * scale for x in raw_samples]
        return {
            "setup_s": raw_setup * scale,
            "pass_s": statistics.median(p["wall_s"] * scale for p in plain),
            "query_p50_s": percentile(samples, 0.5) if samples else float("nan"),
            "query_p90_s": percentile(samples, tail) if samples else float("nan"),
            # The JIT compiler threads' CPU is left out: it is about half
            # the process CPU of a pass and swings by seconds from pass to
            # pass (WORKLOADS.md). It is the per-layer jvm.jit_cpu_s.
            "cpu_s": statistics.median((p["cpu_s"] - p["jit_cpu_s"]) * cpu_scale for p in plain),
        }

    m = end_to_end(PROBE_NOMINAL_S / statistics.median(probes),
                   PROBE_NOMINAL_S / statistics.median(cpu_probes))
    attempted = len(rec["check"]) + sum(len(p["queries"]) for p in timed)
    threw = sum(1 for p in timed for q in p["queries"].values() if not q["ok"])
    mismatched = sorted(n for n in queries
                        if rec["check"][n].get("sha256") is None
                        or rec["check"][n].get("sha256") != reference.get(n, {}).get("sha256"))
    failed = threw + len(mismatched)
    if traced:
        for k in PER_LAYER:
            m[k] = statistics.median(p["layers"].get(k, 0.0) for p in traced)
        m["trace.overhead_frac"] = (statistics.median(p["wall_s"] for p in traced)
                                    / statistics.median(p["wall_s"] for p in plain) - 1)
    m["failed_frac"] = failed / attempted
    detail = {
        "samples": len(raw_samples), "query_p90_percentile": tail, "timed_passes": len(plain),
        "unscaled": end_to_end(1.0, 1.0),
        "process_cpu_s": statistics.median(p["cpu_s"] for p in plain),
        "probe_s": probes, "probe_cpu_s": cpu_probes,
        "traced_passes": len(traced), "mismatched": mismatched, "errors": rec["errors"],
        "warmup_curve_s": [round(rec["check_s"], 4)] + [round(p["wall_s"], 4)
                                                       for p in rec["passes"]],
    }
    return m, attempted, failed, detail


def load_reference(path):
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=os.path.join(HERE, "data", SF),
                    help="fixture directory (default: the committed sf0.01 copy)")
    ap.add_argument("--make-reference", action="store_true",
                    help="write the row-path fingerprints of every workload query instead")
    ap.add_argument("--record", default=None, help="append the full run record here")
    args = ap.parse_args()
    # On SIGTERM, exit through the handlers that stop the compiler or JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    launched_at = time.time()
    data_name = os.path.basename(os.path.normpath(args.data))
    ref_path = os.path.join(HERE, "reference", f"{data_name}.json")
    if not os.path.isdir(args.data):
        sys.exit(f"perfbench: no fixture directory {args.data}")
    os.makedirs(OUT, exist_ok=True)

    if args.make_reference:
        names = sorted({q for w in WORKLOADS.values() for q in w})
        rec, _ = launch(args, names, "reference", os.path.join(OUT, "reference.json"), [],
                     RUN_LIMIT_S * 4)
        fps = {n: {"rows": v["rows"], "sha256": v["sha256"]}
               for n, v in sorted(rec["fingerprints"].items()) if "sha256" in v}
        os.makedirs(os.path.dirname(ref_path), exist_ok=True)
        with open(ref_path, "w") as fh:
            json.dump(fps, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(fps)} of {len(names)} fingerprints to {ref_path}")
        return

    queries = WORKLOADS[args.workload]
    load_before, steal_before = loadavg(), steal_s()
    passes = max(3 if args.trace else 1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    extra = [f"seed={args.seed}", f"warmup={WARMUP_PASSES}", f"passes={passes}",
             f"trace={args.trace}"]
    if args.trace:
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        extra.append("spans=" + os.path.join(OUT, "traces", f"{args.workload}-{args.seed}.json"))
    out_path = os.path.join(OUT, f"run-{args.workload}-{args.seed}.json")
    rec, started = launch(args, queries, "bench", out_path, extra,
                          RUN_LIMIT_S - (time.time() - launched_at))
    m, attempted, failed, detail = metrics_of(rec, started, load_reference(ref_path), queries)
    env = dict(rec["env"], nproc=os.cpu_count(), loadavg_before=load_before,
               loadavg_after=loadavg(), steal_s=steal_s() - steal_before,
               git_commit=git_commit(),
               source_stamp=open(build.STAMP).read().strip(), sf=data_name)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "warmup": WARMUP_PASSES, "time": launched_at,
              "metrics": m, "detail": detail, "env": env, "self_time_s": rec["self_time_s"],
              "attempted": attempted, "failed": failed}
    record_path = args.record or os.path.join(OUT, "runs", f"{args.workload}.jsonl")
    os.makedirs(os.path.dirname(os.path.abspath(record_path)), exist_ok=True)
    with open(record_path, "a") as fh:
        fh.write(json.dumps(record) + "\n")

    if failed:
        print(f"perfbench: {failed} failed: mismatched={detail['mismatched']} "
              f"errors={detail['errors']}", file=sys.stderr)
    names = PER_LAYER if args.trace else {k: "s" for k in END_TO_END}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k] if math.isfinite(m[k]) else None, "unit": u}
                    for k, u in names.items()},
    }))


if __name__ == "__main__":
    main()
