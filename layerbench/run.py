#!/usr/bin/env python3
"""Layered benchmark of the extract engine and the query catalog.

    python3 layerbench/run.py --workload forms_bulk --seed 1 --seconds 8 --trace 0
    python3 layerbench/run.py --workload all --seed 1     # every workload, one table
    python3 layerbench/run.py --self-test                 # the benchmark's own tests
    python3 layerbench/run.py --record-refs /tmp/refs     # re-record catalog references

Run it from anywhere inside a full checkout; it builds the program from
source on first use (see build.py) and then starts one JVM per workload at
local[cores], cores defaulting to the processors this process may use. The
last line on stdout is one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. README.md describes the workloads and metrics.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True  # a run writes nothing beside its sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["forms_bulk", "html_long", "incremental", "catalog"]
RUN_LIMIT_S = 170


def git_commit():
    if not (build.ROOT / ".git").exists():
        return "none"
    r = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or "none"


def run_jvm(out, key, main, args):
    """Run one benchmark JVM in its own process group; relay its stdout and
    return (exit code, last stdout line). A JVM that outlives the run limit
    is killed with its whole group and waited for."""
    cmd = (["java"] + build.jvm_args(out) +
           [f"-Dlayerbench.source={key}", f"-Dlayerbench.commit={git_commit()}",
            "-cp", build.classpath(out), main] + args)
    p = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    expired = threading.Event()

    def kill():
        expired.set()
        os.killpg(p.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    last = None
    try:
        for line in p.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        code = p.wait()
    finally:
        watchdog.cancel()
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    if expired.is_set():
        print(f"layerbench: {main} exceeded {RUN_LIMIT_S} s and was killed", file=sys.stderr)
        return 3, None
    return code, last


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    nproc = len(os.sched_getaffinity(0))
    ap.add_argument("--cores", type=int, default=nproc,
                    help="Spark parallelism, local[cores]; at most nproc")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-refs", metavar="DIR",
                    help="re-record catalog_refs.tsv lines; rows and oracle SQL go to DIR "
                         "for tools/check_oracle.py")
    a = ap.parse_args()
    if not (a.self_test or a.record_refs) and a.workload is None:
        ap.error("--workload is required")
    if a.cores > nproc:
        print(f"layerbench: refusing --cores {a.cores}: only {nproc} processors",
              file=sys.stderr)
        return 2
    try:
        out, key = build.build(a.cores)
    except build.BuildError as e:
        print(f"layerbench: {e}", file=sys.stderr)
        return 2
    if a.self_test:
        return run_jvm(out, key, "layerbench.SelfTest", [str(build.ROOT)])[0]
    if a.record_refs:
        return run_jvm(out, key, "layerbench.RecordRefs",
                       [str(build.ROOT), str(a.cores), str(Path(a.record_refs).resolve())])[0]
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        code, last = run_jvm(out, key, "layerbench.Main", [
            "--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores), "--root", str(build.ROOT)])
        if code != 0:
            print(f"layerbench: {w} failed (exit {code})", file=sys.stderr)
            return code
        results[w] = json.loads(last)
    if a.workload != "all":
        return 0
    print(f"{'workload':<12} {'metric':<36} {'value':>14}  unit")
    for w, r in results.items():
        for m, v in r["metrics"].items():
            print(f"{w:<12} {m:<36} {v['value']:>14.6g}  {v['unit']}")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{m}": v for w, r in results.items() for m, v in r["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
