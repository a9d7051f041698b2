"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload link_batches --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the program from source when needed (perfbench/build.py), then starts
one JVM running graft.perfbench.Main at local[nproc]. The JVM's Spark log
goes to <build dir>/perfbench/logs; on failure its tail is copied to stderr
and the exit code is non-zero. With --trace 1 the span list is written as
JSON under <build dir>/perfbench/traces.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

WORKLOADS = ("link_batches", "train_annotate")
JVM_TIMEOUT_S = 170


def jvm(main, args, tag):
    """Runs `main` in a fresh JVM; returns (exit code, stdout)."""
    archive = build.build()
    base = build.out_dir()
    work = base / "work" / f"{tag}-{os.getpid()}"
    logs = base / "logs"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs.mkdir(parents=True, exist_ok=True)
    log_path = logs / f"{tag}.log"
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(build.java_cmd(main, args, work, archive=archive),
                                    stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"run: JVM exceeded {JVM_TIMEOUT_S} s, killed", file=sys.stderr)
                return 1, ""
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        sys.stderr.write(log_path.read_text()[-8000:])
        print(f"run: JVM exited with code {proc.returncode}", file=sys.stderr)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that the correctness gates reject bad outputs")
    a = ap.parse_args()
    if a.self_test:
        code, out = jvm("graft.perfbench.SelfTest", [], "self-test")
        if out:
            sys.stdout.write(out)
        return 0 if code == 0 else 1
    if a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    t0 = time.monotonic()
    code, out = jvm("graft.perfbench.Main",
                    ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace)],
                    f"{a.workload}-seed{a.seed}-trace{a.trace}")
    if code != 0:
        return 1
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        print("run: no result line from the JVM", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"run: malformed result {lines[-1]}", file=sys.stderr)
        return 1
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if set(result["metrics"]) != want:
        print(f"run: metrics differ from BENCHMARK.json: {sorted(want ^ set(result['metrics']))}",
              file=sys.stderr)
        return 1
    for l in out.splitlines():
        if not l.startswith("{"):
            print(l, file=sys.stderr)
    print(f"run: {a.workload} seed {a.seed} took {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
