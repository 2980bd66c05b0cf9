"""Benchmark runner: builds the library and the benchmark, runs one
workload in one JVM on local[nproc], and prints the result as the last
stdout line.

    python3 perfbench/run.py --workload <etl|corpus> \
        --seed <n> --seconds <s> --trace <0|1>

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 prints
the per-layer metrics and writes spans to .bench_build/traces/. Exits
non-zero, without a result line, if the build or the run fails; exits 1
with correct=false if an output check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
BUILD_DIR = build.BUILD
# Spark ignores explicit input paths with a component starting with "."
# or "_", so the runs' data lives outside .bench_build
WORK_ROOT = ROOT / "bench_work"
WORKLOADS = ("etl", "corpus")
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(classpath: str, args: list, work: Path, log: Path, timeout: int):
    """Run perfbench.Main in its own JVM; work files stay under `work`."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log.parent.mkdir(parents=True, exist_ok=True)
    env = build.java_env()
    env.pop("SPARK_LOCAL_DIRS", None)
    # a fixed, pre-touched heap keeps peak RSS from following GC sizing
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--work", str(work)] + args
    try:
        with open(log, "w") as err:
            return subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                  stderr=err, text=True, timeout=timeout)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    classpath = build.build()

    tag = f"{a.workload}-seed{a.seed}"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--trace-out", str(BUILD_DIR / "traces" / f"{tag}.jsonl")]
    log = BUILD_DIR / "logs" / f"{tag}-trace{a.trace}.log"
    try:
        done = java(classpath, args, WORK_ROOT / f"{a.workload}-{os.getpid()}", log, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: run exceeded {RUN_TIMEOUT_S}s; log {log}\n")
        return 3

    lines = done.stdout.splitlines()
    result_lines = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    for l in lines:
        if not l.startswith("PERFBENCH_RESULT "):
            print(l)
    if not result_lines:
        sys.stderr.write(log.read_text()[-8000:])
        sys.stderr.write(f"perfbench: no result (exit {done.returncode}); log {log}\n")
        return done.returncode or 4
    raw = json.loads(result_lines[-1][len("PERFBENCH_RESULT "):])
    missing = [m["name"] for m in declared if m["name"] not in raw["metrics"]]
    if missing:
        sys.stderr.write(f"perfbench: metrics missing from the run: {missing}\n")
        return 5
    out = {
        "correct": bool(raw["correct"]),
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {m["name"]: {"value": raw["metrics"][m["name"]], "unit": m["unit"]}
                    for m in declared},
    }
    print(json.dumps(out))
    if done.returncode != 0:
        sys.stderr.write(f"perfbench: run exited {done.returncode}; log {log}\n")
    return done.returncode


if __name__ == "__main__":
    sys.exit(main())
