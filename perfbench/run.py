#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark with sbt on first use (and again when
a source file changes), makes the workload's inputs from the seed in a
per-run directory, runs the workload in a fresh JVM, removes the per-run
directory, and prints one JSON result as the last line of stdout. Exits 0
only if every output check passed and no operation failed. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 165
HEAP = "3g"

# Input sizes: the committed fixture of the batch workload, and the
# generated events of the stream workload with its micro-batches per replay.
FIXTURE = "sf0.001"
EVENTS = 5000
KEYS = 1500
CHUNKS = 2


def benchmark():
    """BENCHMARK.json: the workloads and the metrics each run prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [f for f in tops if os.path.isfile(f)]
    for t in trees:
        for d, dirs, names in os.walk(t):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compile with sbt unless the last build saw the same sources. Returns
    (classpath, jvm options)."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(STATE, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    if not (os.path.isfile(stamp) and os.path.isfile(launch)
            and open(stamp).read() == digest.hexdigest()):
        log("building the engine and the benchmark with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        # offline: every dependency comes from the local caches
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeLaunch"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=800)
        if r.returncode != 0 or not os.path.isfile(launch):
            raise SystemExit(f"build failed (sbt exit {r.returncode})")
        os.makedirs(STATE, exist_ok=True)
        with open(stamp, "w") as fh:
            fh.write(digest.hexdigest())
    lines = [x for x in open(launch).read().splitlines() if x]
    return lines[0], lines[1:]


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def clean_stale_runs():
    """Remove per-run directories left by runs that were killed."""
    if not os.path.isdir(STATE):
        return
    for name in os.listdir(STATE):
        if name.startswith("run-") and name[4:].isdigit() and not pid_alive(int(name[4:])):
            shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)


def make_inputs(args, work):
    """The workload's inputs, in <work>/data. Returns the directory."""
    data = os.path.join(work, "data")
    if args.workload == "batch_registry_cold":
        # the read-only fixture; the seed permutes the sweep order
        shutil.copytree(os.path.join(HERE, "fixture", FIXTURE), data)
    else:
        datagen.stream_inputs(data, args.seed, EVENTS, KEYS)
    return data


def run_jvm(cmd, cwd, log_path):
    """Run the benchmark JVM in its own process group; returns (exit, stdout)."""
    with open(log_path, "wb") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log(f"the benchmark JVM ran past {JVM_TIMEOUT_S} s and was killed")
            return 124, b""
        finally:
            # nothing the JVM started may outlive the run
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    return p.returncode, out


def main():
    bench = benchmark()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    # self-test knobs (selftest.py)
    ap.add_argument("--inject-failure", action="store_true")
    ap.add_argument("--golden", help="golden digest file (default: the fixture's)")
    ap.add_argument("--write-golden", action="store_true",
                    help="write the batch digests of this run to the golden file")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("no engine sources next to perfbench/: run from a checkout of the repository")

    metrics = bench["per_layer" if args.trace == "1" else "end_to_end"]
    cp, jvm_opts = build()
    clean_stale_runs()
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        data = make_inputs(args, work)
        log(f"inputs ready in {time.time() - t0:.1f} s")
        golden = args.golden or os.path.join(HERE, "golden", FIXTURE + ".tsv")
        nproc = len(os.sched_getaffinity(0))
        trace_out = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        # every file the JVM writes stays in the per-run directory
        cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dspark.local.dir={work}/tmp", f"-Dgraft.replay.chunks={CHUNKS}"]
               + jvm_opts + ["-cp", cp, "graft.perfbench.Main",
                             "--workload", args.workload, "--seed", str(args.seed),
                             "--seconds", str(args.seconds), "--trace", args.trace,
                             "--work", work, "--data", data, "--golden", golden,
                             "--nproc", str(nproc), "--trace-out", trace_out,
                             "--write-golden", "1" if args.write_golden else "0",
                             "--inject-failure", "1" if args.inject_failure else "0",
                             "--metrics", ",".join(f"{m['name']}={m['unit']}" for m in metrics)])
        jvm_log = os.path.join(work, "jvm.log")
        code, out = run_jvm(cmd, work, jvm_log)
        with open(jvm_log, errors="replace") as fh:
            lines = fh.read().splitlines()
        for line in lines:
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        lines_out = out.decode(errors="replace").strip().splitlines()
        result = None
        if lines_out:
            try:
                result = json.loads(lines_out[-1])
            except ValueError:
                pass
        if result is None:
            print("\n".join(lines[-40:]), file=sys.stderr)
            raise SystemExit(f"the benchmark JVM printed no result (exit {code})")
        print(json.dumps(result))
        sys.stdout.flush()
        return 0 if code == 0 and result.get("correct") else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
