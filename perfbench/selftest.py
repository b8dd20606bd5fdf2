"""Benchmark self-test at the tiny generator size.

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload in BENCHMARK.json it runs
the benchmark untraced and traced on a tiny input and checks that the last
line carries exactly the declared metrics with their units, that every
output check passed (fail ratio 0), and that a directory holding only the
benchmark's own files makes it exit non-zero without printing a result.
Exits non-zero on any failure.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile

SECONDS = "3"


def run(cwd, *args):
    return subprocess.run(["python3", "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        for trace, section in (("0", "end_to_end"), ("1", "per_layer")):
            p = run(root, "--workload", w["name"], "--seed", "1", "--seconds", SECONDS,
                    "--trace", trace, "--size", "tiny")
            tag = f"{w['name']} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            res = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: fail ratio {res['failed']}/{res['attempted']}: {lines[-2][:800]}")
            print(f"{tag}: {res['attempted']} ops, {res['failed']} failed, "
                  f"{len(res['metrics'])} metrics", flush=True)

    bare = tempfile.mkdtemp(dir=os.path.join(root, ".bench_build"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(root, path), os.path.join(bare, path))
        p = run(bare, "--workload", bench["workloads"][0]["name"], "--seed", "1",
                "--seconds", SECONDS, "--trace", "0")
        if p.returncode == 0 or p.stdout.strip():
            problems.append("a directory without the program did not fail cleanly")
        else:
            print(f"bare directory: exit {p.returncode}, no result printed")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for pr in problems:
        print("FAIL", pr)
    print("selftest", "FAILED" if problems else "OK")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
