#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source when needed (perfbench/build.py), runs
graft.perfbench.Main in a fresh JVM on local[nproc], checks registry
results against their DuckDB oracle SQL, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see perfbench/README.md).
The run's report (run.json, spans.jsonl) stays under
.bench_build/results/<workload>-s<seed>-t<trace>/.
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

sys.dont_write_bytecode = True  # leave nothing but .bench_build behind in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 150
# Input generation is repeated and the median reported, so set-up time is steady.
GEN_REPS = 3
# workload -> generator of its inputs (directory, seed) -> {table: rows}
WORKLOADS = {
    "etl": lambda d, s: {**gen.theme_tables(d, s, places=8000, buildings=30000, roads=8000, base=4000),
                         "batch1/places": gen.upsert_batch(d / "batch1", s, 8000, 1, 800, 400)},
    "registry": lambda d, s: gen.registry_tables(d, s, f=0.5, copies=2),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def generate(args, inputs):
    """Writes the workload's inputs GEN_REPS times; returns (rows, median seconds)."""
    times = []
    for _ in range(GEN_REPS):
        shutil.rmtree(inputs, ignore_errors=True)
        t0 = time.perf_counter()
        rows = WORKLOADS[args.workload](inputs, args.seed)
        times.append(time.perf_counter() - t0)
    return rows, sorted(times)[len(times) // 2]


def run_jvm(args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Fixed heap and young-generation sizes keep the resident set comparable
    # across runs; -UsePerfData keeps the JVM from writing outside the checkout.
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work), "--cores", str(cores())]
    with open(work / "jvm.log", "w") as log:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not (work / "run.json").is_file():
        log = (work / "jvm.log").read_text(errors="replace")
        first = [ln for ln in log.splitlines() if "Exception" in ln or "Error" in ln][:3]
        sys.stderr.write("\n".join(first) + "\n" + log[-2000:] + "\n")
        raise SystemExit(f"benchmark JVM failed ({rc})")
    return json.loads((work / "run.json").read_text()), launched


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    built = build.build()
    if built:
        sys.stderr.write(f"[perfbench] built in {built:.1f} s\n")
    work = build.BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.time()
        rows, gen_s = generate(args, work / "inputs")
        rep, launched = run_jvm(args, work)
        # set-up: input generation, then JVM start -> session -> engine-side set-up
        setup_s = gen_s + rep["setup_ready_ms"] / 1e3 - launched
        rep["metrics"] = {"setup_s": {"value": setup_s, "unit": "s"}, **rep["metrics"]}
        rep["per_layer"].update({"session.start_s": {"value": rep["session_ready_ms"] / 1e3 - launched, "unit": "s"},
                                 "inputs.generate_s": {"value": gen_s, "unit": "s"}})
        rep["inputs"] = {t: {"rows": n, "bytes": (work / "inputs" / f"{t}.parquet").stat().st_size}
                         for t, n in rows.items()}
        failed = rep["failed"]
        if rep["oracle"]:
            bad = oracle.check(work / "inputs", work / "results", rep["oracle"], rep["results"])
            rep["oracle_failures"] = bad
            failed += sum(rep["executions"].get(f"q:{name}", 0) for name in bad)
        rep["wall_s"] = time.time() - t0
        keep = build.BUILD / "results" / f"{args.workload}-s{args.seed}-t{args.trace}"
        shutil.rmtree(keep, ignore_errors=True)
        keep.mkdir(parents=True)
        (keep / "run.json").write_text(json.dumps(rep, indent=1))
        if (work / "spans.jsonl").is_file():
            shutil.copy(work / "spans.jsonl", keep / "spans.jsonl")
        for f in rep.get("failures", [])[:5]:
            sys.stderr.write(f"[perfbench] failed {f['op']}: {f['why'][:400]}\n")
        for name, why in rep.get("oracle_failures", {}).items():
            sys.stderr.write(f"[perfbench] oracle mismatch q:{name}: {why}\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = rep["per_layer"] if args.trace else rep["metrics"]
    print(json.dumps({"correct": failed == 0, "attempted": rep["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
