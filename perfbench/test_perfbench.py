"""Tests of the benchmark itself, outside the sbt suite:

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs are one untraced and one traced run of each workload on
the sf0.001 fixtures (about half a minute per run). The smoke tests, the
q189 build-time test and the corrupted-reference test read those runs'
output and records; the rest are unit tests of the result arithmetic
and compare.py.
"""
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import compare  # noqa: E402
import run  # noqa: E402

SMALL = os.path.join(HERE, "data", "sf0.001")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


def git_status():
    res = subprocess.run(["git", "-C", ROOT, "status", "--porcelain", "--ignored=no"],
                         capture_output=True, text=True)
    return res.stdout if res.returncode == 0 else None


def bench(*args):
    record = os.path.join(run.OUT, "test-runs.jsonl")
    res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args, "--record", record],
                         capture_output=True, text=True, cwd=ROOT, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def stray_files():
    names = ("spark-warehouse", "metastore_db", "derby.log", "checkpoint")
    found = []
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in (".git", ".bench_build", "target")]
        found += [os.path.join(d, f) for f in dirs + files
                  if f in names or f.startswith("BENCH_detail") and d != ROOT]
    return found


@pytest.fixture(scope="module")
def smoke():
    """One untraced and one traced run of each workload at sf0.001 (seed
    7), with the result lines, the run records and the git status and
    stray files before and after."""
    before, strays = git_status(), stray_files()
    runs = {}
    for workload in WORKLOADS:
        for trace in (0, 1):
            out = bench("--workload", workload, "--seed", "7", "--seconds", "0.1",
                        "--trace", str(trace), "--data", SMALL)
            with open(os.path.join(run.OUT, f"run-{workload}-7.json")) as fh:
                runs[workload, trace] = out, json.load(fh)
    return runs, (before, strays), (git_status(), stray_files())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_and_leaves_no_files(smoke, workload):
    runs, before, after = smoke
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out, _ = runs[workload, trace]
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        for m in BENCHMARK[key]:
            assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
            assert isinstance(out["metrics"][m["name"]]["value"], float), m["name"]
    assert after == before


def test_q189_build_time_work_is_attributed(smoke):
    runs, _, _ = smoke
    _, rec = runs["llm-pipeline", 1]
    traced = [p for p in rec["passes"] if p["traced"]]
    assert traced
    layers = traced[0]["queries"]["q189_window_suffix"]["layers"]
    assert layers["plan.graft_nodes"] > 0
    assert layers["build.jobs"] > 0
    assert layers["build.sql_execs"] > 0


def test_corrupted_reference_is_reported_as_failure(smoke):
    runs, _, _ = smoke
    _, rec = runs["tpch", 0]
    with open(os.path.join(HERE, "reference", "sf0.001.json")) as fh:
        ref = json.load(fh)
    queries = run.WORKLOADS["tpch"]
    started = rec["first_timed_ms"] / 1e3 - 1
    assert run.metrics_of(rec, started, ref, queries)[2] == 0
    ref["q97_tpch_q6"]["sha256"] = "0" * 64
    m, _, failed, detail = run.metrics_of(rec, started, ref, queries)
    assert failed == 1 and detail["mismatched"] == ["q97_tpch_q6"]
    assert m["failed_frac"] > 0


def fake_record(check_sha="abc"):
    q = {"wall_s": 1.0, "build_s": 0.1, "ok": True}
    return {
        "first_timed_ms": 12_000,
        "check": {"a": {"sha256": check_sha, "rows": 1, "wall_s": 2.0}},
        "check_s": 2.0,
        "errors": {},
        "passes": [{"kind": "timed", "traced": False, "wall_s": 2.0 + i, "cpu_s": 4.0 + i,
                    "jit_cpu_s": 1.0 + i, "probe_s": [run.PROBE_NOMINAL_S] * 3,
                    "probe_cpu_s": [run.PROBE_NOMINAL_S / 2] * 3,
                    "queries": {"a": dict(q, wall_s=0.1 * (i + 1))}} for i in range(3)],
    }


def test_metrics_and_failures_from_a_record():
    ref = {"a": {"sha256": "abc"}}
    m, attempted, failed, detail = run.metrics_of(fake_record(), 10.0, ref, ["a"])
    assert m["setup_s"] == pytest.approx(2.0)
    assert m["pass_s"] == 3.0
    # The process's 5 CPU-s less the JIT compiler's 2, on a machine whose
    # cores run twice as fast as the nominal one.
    assert m["cpu_s"] == 6.0
    assert m["query_p50_s"] == pytest.approx(0.2, rel=1e-3)
    assert (attempted, failed, m["failed_frac"]) == (4, 0, 0.0)
    assert detail["samples"] == 3 and detail["query_p90_percentile"] == 0.5
    _, _, failed, detail = run.metrics_of(fake_record("xyz"), 10.0, ref, ["a"])
    assert failed == 1 and detail["mismatched"] == ["a"]


def test_harrell_davis_percentile():
    assert run.percentile([1.0, 2.0, 3.0], 0.5) == pytest.approx(2.0, rel=1e-4)
    assert run.percentile([5.0] * 7, 0.8) == pytest.approx(5.0, rel=1e-4)
    xs = [float(i) for i in range(101)]
    assert run.percentile(xs, 0.9) == pytest.approx(90.0, abs=0.5)


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.tail_percentile(1000) == 0.9
    assert run.tail_percentile(50) == pytest.approx(0.8)
    assert run.tail_percentile(12) == 0.5


def test_compare_verdicts():
    par = [10.0 + 0.1 * i for i in range(10)]
    assert compare.verdict(par, [p - 1 for p in par], "lower", 0.1)[0] == "improved"
    assert compare.verdict(par, [p * 1.5 for p in par], "lower", 0.1)[0] == "worse"
    assert compare.verdict(par, list(par), "lower", 0.1)[0] == "no worse"
    assert compare.verdict(par[:5], par[:5], "lower", 0.1)[0] == "unresolved"
    noisy = [10.0, 20.0] * 5
    assert compare.verdict(noisy, list(noisy), "lower", 0.1)[0] == "unresolved"


def test_compare_flags_a_verdict_the_scaling_decided():
    def runs(values, scale):
        return [{"metrics": {"pass_s": v * scale}, "detail": {"unscaled": {"pass_s": v}}}
                for v in values]
    metric = {"name": "pass_s", "better": "lower", "bound": 0.1}
    par = [10.0 + 0.1 * i for i in range(10)]
    slower = [p * 1.5 for p in par]
    same = compare.report(metric, runs(par, 1.0), runs(slower, 1.0))
    assert same[0].split()[1] == "worse" and same[1].split()[0] == "worse"
    assert "SCALING" not in same[1]
    absorbed = compare.report(metric, runs(par, 1.0), runs(slower, 1 / 1.5))
    assert absorbed[0].split()[1:3] == ["no", "worse"] and absorbed[1].split()[0] == "worse"
    assert "SCALING DECIDED" in absorbed[1]


def test_refuses_a_directory_without_the_program():
    bare = os.path.join(run.OUT, "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        res = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tpch",
                              "--seed", "1", "--seconds", "1", "--trace", "0"],
                             capture_output=True, text=True, cwd=bare, timeout=180)
    finally:
        shutil.rmtree(bare)
    assert res.returncode != 0
    assert res.stdout.strip() == ""
