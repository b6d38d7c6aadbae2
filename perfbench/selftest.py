#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Asserts that:
  - every metric BENCHMARK.json names is emitted, with its unit, by
    untraced (end_to_end) and traced (per_layer) runs of every workload;
  - the correctness gate fails, and the command exits non-zero, when one
    expected result is deliberately corrupted;
  - traced and untraced runs of one seed return identical hits;
  - without the program's sources the command exits non-zero and prints
    no result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".bench_build", "results")
SEED = 7


def run(workload, trace, *extra, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def saved(workload, trace):
    with open(os.path.join(RESULTS, f"{workload}-seed{SEED}-trace{trace}.json")) as fh:
        return json.load(fh)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []

    def expect(ok, what):
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        digests = {}
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            p = run(w, trace)
            expect(p.returncode == 0, f"{w} trace={trace} exits 0")
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            expect(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
                   f"{w} trace={trace} every result correct")
            for m in spec[group]:
                got = result["metrics"].get(m["name"])
                expect(got is not None and isinstance(got["value"], (int, float)) and got["unit"] == m["unit"],
                       f"{w} trace={trace} emits {m['name']} in {m['unit']}")
            digests[trace] = saved(w, trace)["meta"]["hits_digest"]
        if len(digests) == 2:
            expect(digests[0] == digests[1], f"{w} traced and untraced runs return identical hits")

    w = spec["workloads"][0]["name"]
    p = run(w, 0, "--corrupt-expected")
    expect(p.returncode != 0, f"{w} with a corrupted expected result exits non-zero")
    expect(not p.stdout.strip().endswith("}"), f"{w} with a corrupted expected result prints no result")
    bad = saved(w, 0)["result"]
    expect(bad["failed"] > 0 and not bad["correct"], f"{w} gate counts the corrupted result as failed")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    p = run(w, 0, cwd=bare)
    expect(p.returncode != 0 and not p.stdout.strip(), "without program sources: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
