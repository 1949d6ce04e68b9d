#!/usr/bin/env python3
"""Benchmark of the xarray-beam-on-Spark engine: one named workload per run.

    python3 perfbench/run.py --workload era5_rechunk --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):
  era5_rechunk      pancake -> pencil rechunk of a seeded mock ERA5 store
  era5_climatology  (month, hour-of-day) mean of the same store
  gates_mix         six short query gates over seeded sf0.01 tables
  gates_dedup       three dedup / vector gates over seeded sf0.1 tables

The run builds the harness (sbt, cached by a content stamp of the
sources), generates its inputs from --seed, runs one JVM on local[ncores]
with a pinned 8 GiB heap, checks every output, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
exit code is non-zero when any operation failed or produced wrong output.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(HERE, "target")
sys.path.insert(0, HERE)

WORKLOADS = ["era5_rechunk", "era5_climatology", "gates_mix", "gates_dedup"]
# Metric names and units come from BENCHMARK.json at the checkout root.
# The per-layer metrics listed there are the ones every listed workload
# measures; the full per-layer record of a traced run, including the
# layers a workload does not use, goes to work/trace_<workload>.json.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]
# Scale factor of the gate tables per workload at full scale; the smoke
# test's tiny scale uses 0.001 for both.
SF = {"gates_mix": 0.01, "gates_dedup": 0.1}
# The JVM options of build.sbt (heap pinned at 8 GiB, G1, 768 MiB code
# cache) plus -XX:+AlwaysPreTouch: the heap is faulted in during JVM start
# (part of setup_s), so the timed passes do not pay the first-touch page
# faults of a fresh 8 GiB heap, which are slow and erratic in a VM.
# -XX:-UsePerfData keeps the JVM from writing its counters file to /tmp.
JVM_OPTS = ["-Xms8g", "-Xmx8g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-XX:ReservedCodeCacheSize=768m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


_child = None  # the sbt or JVM process this run is waiting for


def _stop(signum, _frame):
    """Stop the child process before exiting on SIGTERM / SIGINT."""
    if _child is not None and _child.poll() is None:
        _child.kill()
        _child.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` as the current child; returns its exit code, or None
    when it was killed after `timeout` seconds."""
    global _child
    _child = subprocess.Popen(cmd, **kw)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        _child.kill()
        _child.wait()
        return None
    finally:
        _child = None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    """Aggregate (busy, steal) jiffies of the host from /proc/stat;
    steal is time the hypervisor gave the virtual CPUs to someone else."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:3]) + sum(v[5:7]), v[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def source_stamp():
    """Content hash of everything the harness build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt unless the stamp of
    the last build matches; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building with sbt")
    # offline: only artifacts already in the local caches are used
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    os.makedirs(BUILD, exist_ok=True)
    out_file = os.path.join(BUILD, "perfbench.build.log")
    with open(out_file, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 840, cwd=HERE, env=env,
                       stdout=out, stderr=subprocess.STDOUT)
    with open(out_file) as f:
        text = f.read()
    lines = text.strip().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(text[-4000:])
        raise SystemExit("perfbench: the build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def gen_tables(directory, sf, seed):
    """Generate the gate tables; returns (seconds, uncompressed MiB)."""
    import gen_tables as g
    shutil.rmtree(directory, ignore_errors=True)
    t0 = time.perf_counter()
    nbytes = g.write(directory, sf, seed)
    return time.perf_counter() - t0, nbytes / 1048576.0


def oracle_check(tables_dir, dump_dir, oracle_sql, timeout):
    """Compare each dumped gate result with its DuckDB oracle through the
    repo's tools/compare.py. Returns {gate: problem} for the gates that
    differ."""
    with open(os.path.join(dump_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    out_file = os.path.join(dump_dir, "compare.out")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_ONLY"}
    with open(out_file, "w") as out:
        rc = run_child([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                        tables_dir, dump_dir], timeout, env=env,
                       stdout=out, stderr=subprocess.STDOUT)
    with open(out_file) as f:
        text = f.read()
    bad = {}
    for line in text.splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[len("FAIL "):].partition(": ")
            bad[name] = why
    if rc != 0 and not bad:  # the comparison itself failed
        why = f"tools/compare.py exited with {rc}: {text[-500:]}"
        bad = {name: why for name in oracle_sql}
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: a few-MiB version of every input, for the smoke test")
    ap.add_argument("--inject", default=None,
                    help="make one output wrong on purpose: a gate code "
                         "(e.g. x02), 'era5' (a wrong chunk) or 'era5_chunks' "
                         "(era5_rechunk writes the source chunking)")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("the program's sources (src/main/scala/graft) are not next to "
            "the benchmark directory; run from a full checkout")
        return 2
    cp = build()
    t_start = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gates = args.workload.startswith("gates")
    tables = os.path.join(work, "tables")
    sf = SF.get(args.workload, 0.0) if args.scale == "full" else 0.001
    gen_s, input_mib = 0.0, 0.0
    if gates:
        gen_s, input_mib = gen_tables(tables, sf, args.seed)

    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                  "perfbench.Main",
                                  "--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                                  "--work", work, "--data", tables, "--scale", args.scale,
                                  "--cores", str(cores), "--input-mib", str(input_mib)]
           + (["--inject", args.inject] if args.inject else []))
    budget = max(30.0, 170.0 - (time.perf_counter() - t_start))
    jvm_log = os.path.join(work, "jvm.log")
    busy0, steal0 = cpu_times()
    with open(jvm_log, "w") as lf:
        rc = run_child(cmd, budget, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
    if rc is None:
        log(f"the JVM did not finish within {budget:.0f} s; see {jvm_log}")
        return 3
    busy1, steal1 = cpu_times()
    res_file = os.path.join(work, "jvm_result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-4000:])
        log(f"the JVM exited with {rc} and no result")
        return 4
    with open(res_file) as f:
        res = json.load(f)

    attempted = res["attempted"]
    failures = list(res["failures"])
    failed = len(failures)
    if gates:
        bad = oracle_check(tables, res["dump_dir"], res["oracle_sql"],
                           max(5.0, 177.0 - (time.perf_counter() - t_start)))
        for name, why in bad.items():
            n = res["gates"][name]["executions"] - res["gates"][name]["failed"]
            failures.append(f"{name}: oracle mismatch ({why}); "
                            f"all {n} executions counted as failed")
            failed += n
        res["oracle_checked"] = sorted(res["oracle_sql"])
        res["oracle_unchecked"] = sorted(set(res["gates"]) - set(res["oracle_sql"]))
    failed = min(failed, attempted)

    e2e = dict(res["e2e"])
    setup = res["session_s"] + e2e.pop("setup_jvm_s") + gen_s
    e2e = {"setup_s": setup, **e2e}
    values = {k: e2e[k] for k, _ in END_TO_END} if not args.trace else {
        k: res["layer"].get(k) for k, _ in PER_LAYER}
    units = dict(END_TO_END) if not args.trace else dict(PER_LAYER)
    missing = [k for k, v in values.items() if v is None or not math.isfinite(v)]
    if missing:
        failures.append(f"metrics not measured: {missing}")
        failed = max(failed, 1)
        values.update((k, 0.0) for k in missing)

    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": res["cores"], "conf": res["conf"], "heap_max_mb": res["heap_max_mb"],
              "attempted": attempted, "failed": failed,
              "failed_frac": failed / max(1, attempted), "failures": failures,
              "end_to_end": e2e, "query_tail": res["query_tail"],
              "setup_parts": {"session_s": res["session_s"], "generate_s": gen_s,
                              **res["setup_parts"]},
              "pass_s": res["pass_s"], "untraced_pass_s": res["untraced_pass_s"],
              "layer": res["layer"],
              "cpu_steal_frac": (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0)}
    for k in ("input", "gates", "trace_overhead_s", "probes_s", "oracle_checked",
              "oracle_unchecked"):
        if k in res:
            detail[k] = res[k]
    if gates:
        detail["input"] = {"uncompressed_mib": input_mib, "sf": sf,
                           "on_disk_mib": sum(os.path.getsize(os.path.join(tables, f))
                                              for f in os.listdir(tables)) / 1048576.0}
    name = f"{'trace' if args.trace else 'run'}_{args.workload}.json"
    with open(os.path.join(WORK, name), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    shutil.copy(jvm_log, os.path.join(WORK, name[:-len(".json")] + ".log"))
    if args.trace:
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(WORK, f"spans_{args.workload}.json"))
    shutil.rmtree(work, ignore_errors=True)

    for msg in failures[:20]:
        log(f"FAILED {msg}")
    qt = res["query_tail"]
    log(f"{args.workload}: failed_frac={failed / max(1, attempted):.4f} "
        f"({failed}/{attempted}); query_tail_s is p{qt['percentile']} of "
        f"{qt['samples']} samples; detail in {os.path.join(WORK, name)}")
    if args.trace:
        log("per-layer: " + json.dumps(res["layer"], sort_keys=True))
        log(f"tracing overhead (traced wall_s - untraced wall_s): "
            f"{res.get('trace_overhead_s', float('nan')):.4f} s")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in values.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
