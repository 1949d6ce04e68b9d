#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke_test.py [workload ...]

For each workload (default: all four) it checks that
  * an untraced run succeeds and prints every end-to-end metric;
  * a traced run succeeds, prints every per-layer metric of BENCHMARK.json
    and records the workload's full per-layer set in its detail file;
  * a run with one output made wrong on purpose counts it as failed and
    exits non-zero.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

COMMON = [
    "spark.outside_jobs_ms", "spark.planning_ms", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.cpu_util", "spark.gc_ms",
    "spark.task_p50_ms", "spark.task_max_ms", "spark.failed_tasks",
    "spark.peak_exec_mem_mb",
    "sources.decode_mb_s.zstd", "sources.decode_mb_s.gzip", "sources.decode_mb_s.blosc",
    "sources.chunks_read", "sources.encode_mb_s.zstd", "sources.chunks_written",
    "sources.store_mb_written", "sources.compress_ratio",
    "ndarray.reduce_mb_s", "ndarray.slice_mb_s", "ndarray.blockconcat_mb_s",
    "operators.rechunk_stages", "operators.rechunk_intermediate_chunks",
    "core.chunkkey_canonical_ns", "core.chunks",
    "api.plan_ms", "api.action_ms", "api.bridge_rows_per_s",
    "functions.sorted_intersect_rows_s", "functions.vec_dot_rows_s",
    "streaming.batches", "streaming.batch_p50_ms", "streaming.planning_ms",
    "streaming.walcommit_ms",
    "jvm.gc_ms", "jvm.live_heap_peak_mb", "jvm.jit_ms",
]
EXTRA = {
    "era5_rechunk": ["operators.rechunk_shuffle_mb", "ndarray.bytes_moved_mb"],
    "era5_climatology": ["ndarray.single_thread_s"],
    "gates_mix": [],
    "gates_dedup": [],
}
INJECT = {"era5_rechunk": ["era5", "era5_chunks"], "era5_climatology": ["era5"],
          "gates_mix": ["x09"], "gates_dedup": ["e19"]}


def bench(workload, trace=0, inject=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace), "--scale", "tiny"
           ] + (["--inject", inject] if inject else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    return bool(cond)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or run.WORKLOADS
    ok = True
    for w in workloads:
        rc, out, err = bench(w)
        ok &= check(rc == 0 and out and out["correct"] and out["failed"] == 0,
                    f"{w}: untraced run succeeds" + ("" if rc == 0 else "\n" + err[-2000:]))
        if out:
            names = [m["name"] for m in spec["end_to_end"]]
            ok &= check(all(n in out["metrics"] and math.isfinite(out["metrics"][n]["value"])
                            for n in names), f"{w}: every end-to-end metric printed")
            ok &= check(set(out["metrics"]) == set(names), f"{w}: no other metric printed")

        rc, out, err = bench(w, trace=1)
        ok &= check(rc == 0 and out and out["correct"],
                    f"{w}: traced run succeeds" + ("" if rc == 0 else "\n" + err[-2000:]))
        if out:
            names = [m["name"] for m in spec["per_layer"]]
            ok &= check(set(out["metrics"]) == set(names) and all(
                math.isfinite(out["metrics"][n]["value"]) for n in names),
                f"{w}: every per-layer metric of BENCHMARK.json printed")
            with open(os.path.join(HERE, "work", f"trace_{w}.json")) as f:
                detail = json.load(f)
            gates = [n.split("_")[0] for n in detail.get("gates", {})]
            if w.startswith("gates"):
                ok &= check(gates, f"{w}: gates listed in the detail file")
            want = COMMON + EXTRA[w] + [f"queries.{g}_s" for g in gates]
            missing = [n for n in want if n not in detail["layer"]]
            ok &= check(not missing, f"{w}: full per-layer record written (missing {missing})")
            ok &= check("trace_overhead_s" in detail, f"{w}: tracing overhead reported")

        for inject in INJECT[w]:
            rc, out, err = bench(w, inject=inject)
            ok &= check(rc != 0 and out and not out["correct"] and out["failed"] > 0,
                        f"{w}: injected wrong output ({inject}) counted as failed, exit {rc}")
    print("smoke test " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
