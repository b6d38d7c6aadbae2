#!/usr/bin/env python3
"""Run one graft benchmark workload; the last stdout line is its JSON result.

    python3 perfbench/run.py --workload sf01_serve --seed 1 --seconds 8 --trace 0

Builds the program from source first (perfbench/build.py), then runs the
harness in one JVM with Spark local[nproc]. The report lines above the
result give run metadata, every metric with its unit and, with
--trace 1, the per-layer self-time table. The full result and the spans
land in .bench_build/results and .bench_build/traces. The exit code is
non-zero when a result was wrong or an operation failed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_TIMEOUT_S = 170
RESULT_TAG = "PERFBENCH_RESULT "


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tiny", action="store_true", help="self-test size")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: perturb one expected result, so the gate must fail")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    try:
        jar, archive, source_digest = build.ensure_built()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    bench_dir = os.path.join(ROOT, ".bench_build")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(bench_dir, "work", tag)
    logs = os.path.join(bench_dir, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    extra = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    cmd = build.java_cmd(jar, work, extra) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus), "--work", os.path.join(work, "run"),
        "--out", bench_dir, "--tiny", "1" if a.tiny else "0",
        "--corrupt-expected", "1" if a.corrupt_expected else "0",
        "--git-commit", git_commit(), "--source-digest", source_digest[:16],
        "--cds", "on" if archive else "off"]
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    result = None
    try:
        with open(log_path, "w") as log:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s and was stopped", file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith(RESULT_TAG):
            result = json.loads(line[len(RESULT_TAG):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"perfbench: harness exited with {proc.returncode}"
              f"{'' if result is None else ', results were wrong'} (log: {log_path})", file=sys.stderr)
        return proc.returncode or 1
    missing = [n for n in wanted
               if not isinstance(result["metrics"].get(n, {}).get("value"), (int, float))]
    if missing:
        print(f"perfbench: metrics without a value: {', '.join(missing)}", file=sys.stderr)
        return 4
    result["metrics"] = {n: result["metrics"][n] for n in wanted}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
