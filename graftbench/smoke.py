#!/usr/bin/env python3
"""Tiny-scale smoke test of the benchmark itself.

    python3 graftbench/smoke.py

Runs every workload (the two BENCHMARK.json gates and serve_batch)
untraced and traced on a 120-document corpus for 2 seconds each, and
asserts that each run is correct with error_rate 0, prints every
end-to-end metric untraced and every per-layer metric traced, and that
the layers each workload exercises report non-zero figures.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-layer figures that must be non-zero on each workload's traced run.
EXERCISED = {
    "serve_interactive": [
        "model.parse_s", "exec.plan_s", "api.rank_s", "api.expand_s",
        "exec.learn_s", "index.fwd_read_s", "spark.jobs_per_query",
        "spark.stages_per_query", "spark.tasks_per_query",
        "spark.driver_s_per_query", "spark.executor_run_s_per_query",
        "spark.executor_cpu_s_per_query", "spark.input_bytes_per_query",
        "index.load_s", "index.build_s", "index.save_s",
        "index.bytes_written_per_input_byte", "spark.shuffle_write_bytes",
        "index.decode_mb_per_s", "trace.path_coverage"],
    "serve_batch": [
        "model.parse_s", "exec.plan_s", "api.batch_s",
        "spark.jobs_per_query", "spark.tasks_per_query", "index.load_s",
        "index.save_s"],
    "index_ingest": [
        "index.build_s", "index.save_s", "index.bytes_written_per_input_byte",
        "spark.shuffle_write_bytes", "analysis.tokens_per_s",
        "streaming.batch_s", "streaming.merge_load_s", "ops.minhash_s",
        "ops.candidates_s", "ops.verify_s", "ops.candidates",
        "ops.verified_ratio"],
}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--docs", "120"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, "%s trace=%d exited %d:\n%s" % (
        workload, trace, p.returncode, p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    gated = [w["name"] for w in bench["workloads"]]
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    failures = []
    for workload in EXERCISED:
        for trace in (0, 1):
            report, result = run(workload, trace)
            tag = "%s trace=%d" % (workload, trace)
            problems = []
            if not result["correct"] or result["failed"] or report["error_rate"] != 0:
                problems.append("incorrect: %s" % report.get("mismatches"))
            if not report.get("selftest_corruption_detected"):
                problems.append("the corrupted-ranking self-test did not fire")
            metrics = result["metrics"]
            if trace == 0:
                missing = e2e - set(metrics)
                zero = [k for k in e2e & set(metrics) if metrics[k]["value"] <= 0]
            else:
                missing = (layers if workload in gated else set()) - set(metrics)
                # Layers outside BENCHMARK.json are in the report only.
                layers_seen = dict(report.get("layers", {}), **metrics)
                zero = [k for k in EXERCISED[workload]
                        if layers_seen.get(k, {"value": 0})["value"] <= 0]
            if missing:
                problems.append("missing metrics %s" % sorted(missing))
            if zero:
                problems.append("zero metrics %s" % sorted(zero))
            print("%-28s %s" % (tag, "ok" if not problems else "; ".join(problems)),
                  flush=True)
            if problems:
                failures.append(tag)
    if failures:
        print("smoke test failed: " + ", ".join(failures))
        sys.exit(1)
    print("smoke test passed")


if __name__ == "__main__":
    main()
