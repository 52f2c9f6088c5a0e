"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload tokens_global --seed 1 --seconds 10 --trace 0

Builds the program from the checkout's sources (perfbench/build.py), runs
the workload in one JVM at local[min(4, nproc)], checks every output
against the exact answers its generator recorded, and prints a report
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones; a traced run also writes its spans (with self times) to
.bench_build/traces/. Metric definitions are in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
RUN_LIMIT_S = 175

# The module openings Spark's launcher passes to a JDK 17 JVM.
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]

# Reference single-thread numbers (Go, Apple M1 Pro; BASELINE.md).
GO_REFERENCE = {
    "core.sketch.add_token_ns": "Go Add 358.6-471.4 ns/op, Incr 227.4-267.1 ns/op",
    "core.sketch.count_ns": "Go Count 215.4-302.2 ns/op",
    "core.sliding.add_ns": "Go sliding Add 696.9-1146 ns/op",
    "core.sliding.tick_us": "Go sliding Tick 4.2-91.0 us/op",
}


def fail(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail(f"missing {spec_path}")
    spec = json.loads(spec_path.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        fail(str(e))

    run_dir = build.BUILD / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cores = str(min(4, os.cpu_count() or 1))
    cmd = (["java", *ADD_OPENS, "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-cp", f"{classes}{os.pathsep}{jars}/*",
            "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(run_dir), "--cores", cores])
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded its time limit; log: {log_path}")
    result_path = run_dir / "result.json"
    if proc.returncode != 0 or not result_path.is_file():
        tail = log_path.read_text()[-3000:]
        fail(f"benchmark JVM exited with {proc.returncode}; log tail:\n{tail}")
    result = json.loads(result_path.read_text())
    spans = [json.loads(line) for line in (run_dir / "spans.jsonl").read_text().splitlines() if line]
    values = result["values"]

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = stats.per_layer(names, values, spans)
        write_trace(args, spans)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = stats.end_to_end(values)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"jobs/results attempted {result['attempted']}  failed {result['failed']}")
    phases = {}
    for sp in spans:
        if sp["parent"] == 0:
            phases[sp["name"]] = phases.get(sp["name"], 0) + (sp["end_ns"] - sp["start_ns"]) / 1e9
    print("  phases (s): " + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()))
    for msg in result["failures"]:
        print(f"  FAILED: {msg}")
    for name, v in metrics.items():
        note = f"   ({GO_REFERENCE[name]})" if name in GO_REFERENCE else ""
        print(f"  {name:40s} {v:14.6g} {units[name]}{note}")
    attempted = max(1, int(result["attempted"]))
    failed = int(result["failed"])
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()}}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


def write_trace(args, spans):
    """Spans with their self time, and self time summed per (layer, name)."""
    trace_dir = build.BUILD / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    st = stats.self_times(spans)
    stem = trace_dir / f"{args.workload}-s{args.seed}"
    with open(f"{stem}.spans.jsonl", "w") as f:
        for sp in spans:
            f.write(json.dumps(dict(sp, self_ns=st[sp["id"]])) + "\n")
    summary = {f"{layer}/{name}": {"count": len(v), "self_ms": sum(v) / 1e6}
               for (layer, name), v in stats.self_time_by_name(spans).items()}
    Path(f"{stem}.self.json").write_text(json.dumps(summary, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
