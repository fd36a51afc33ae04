#!/usr/bin/env python3
"""Self-test of the benchmark, at its own size (the sf0.001 fixture,
2-chunk replays):

    python3 perfbench/selftest.py

Checks that every workload, untraced and traced, passes its output checks
and prints exactly the metrics BENCHMARK.json names, with their units; that
every per-layer metric is reached by some workload; that an injected
throwing operation is counted as failed and fails the run; and that a
corrupted golden digest fails the run. Takes about six minutes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []

    def expect(ok, msg):
        print(("ok   " if ok else "FAIL ") + msg, flush=True)
        if not ok:
            problems.append(msg)

    unreached = set(want[1])
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            code, res, err = run(w, trace)
            tag = f"{w} trace={trace}"
            if res is None:
                expect(False, f"{tag}: no result\n{err[-2000:]}")
                continue
            expect(code == 0 and res["correct"] and res["failed"] == 0,
                   f"{tag}: exit {code}, correct {res['correct']}, failed {res['failed']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want[trace], f"{tag}: metrics and units are the ones BENCHMARK.json names")
            expect(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                   f"{tag}: every value is a number")
            if trace == 1:
                line = [x for x in err.splitlines() if x.startswith("[perfbench] unreached:")]
                expect(len(line) == 1, f"{tag}: reports the per-layer metrics it does not reach")
                if line:
                    unreached &= set(filter(None, line[0].split(":", 1)[1].strip().split(",")))
    expect(not unreached, "every per-layer metric is reached by some workload"
           + (f" (not: {', '.join(sorted(unreached))})" if unreached else ""))

    code, res, _ = run("stream_replay", 0, "--inject-failure")
    expect(res is not None and res["failed"] == 1 and not res["correct"] and code != 0,
           f"injected failure: counted as failed and fails the run (exit {code}, "
           f"failed {res and res['failed']})")

    os.makedirs(WORK, exist_ok=True)
    bad = os.path.join(WORK, "golden-corrupt.tsv")
    with open(os.path.join(HERE, "golden", "sf0.001.tsv")) as fh:
        rows = fh.read().splitlines()
    name, digest = rows[0].split("\t")
    rows[0] = name + "\t" + digest[:-1] + ("1" if digest[-1] != "1" else "2")
    with open(bad, "w") as fh:
        fh.write("\n".join(rows) + "\n")
    code, res, _ = run("batch_registry_cold", 0, "--golden", bad)
    expect(res is not None and not res["correct"] and code != 0,
           f"corrupted golden digest of {name}: fails the run (exit {code})")
    shutil.rmtree(WORK, ignore_errors=True)

    print("self-test " + ("passed" if not problems else f"FAILED ({len(problems)})"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
