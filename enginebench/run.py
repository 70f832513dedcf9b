"""The engine benchmark's one command. Run from the repository root:

    python3 enginebench/run.py --workload trickle --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark if their sources changed (build.py),
runs one workload in one JVM at local[nproc], checks its outputs, and prints
a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Every file the run makes lives under one temp
root in .bench_build/enginebench, deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("backfill", "trickle", "serve")
# free disk space a run needs before set-up: binlog, tables, shuffle files
MIN_FREE_BYTES = 2 << 30
# a run must end within 180 s; the first one in a checkout also builds
RUN_LIMIT_S, FIRST_RUN_LIMIT_S = 170, 880


def fail(msg):
    sys.stderr.write(f"enginebench: {msg}\n")
    sys.exit(2)


def run_jvm(cmd, log_path, timeout):
    """Run the benchmark JVM; kill it on timeout or interruption and wait."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {timeout:.0f} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    repo = os.getcwd()
    free = shutil.disk_usage(repo).free
    if free < MIN_FREE_BYTES:
        fail(f"only {free >> 20} MB free under {repo}; a run needs "
             f"{MIN_FREE_BYTES >> 20} MB")
    stamp_before = build.current_stamp(repo)
    cp, stamp = build.build(repo)
    limit = RUN_LIMIT_S if stamp_before == stamp else FIRST_RUN_LIMIT_S

    root = os.path.abspath(os.path.join(
        repo, build.OUT, f"run-{os.getpid()}-{int(time.time())}"))
    try:
        os.makedirs(os.path.join(root, "jtmp"))
        out = os.path.join(root, "record.json")
        cmd = build.jvm_command(cp, "graft.enginebench.BenchMain",
                                os.path.join(root, "jtmp"),
                                build.cds_flags(repo)) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", root, "--out", out]
        log = os.path.join(root, "jvm.log")
        rc = run_jvm(cmd, log, limit - (time.monotonic() - t0))
        build.keep_archive(repo, ok=rc == 0)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(log, errors="replace").read()[-6000:])
            fail(f"benchmark JVM exited with {rc}")
        with open(out) as fh:
            record = json.load(fh)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    record["source_stamp"] = stamp
    record["git_commit"] = build.git_commit(repo)
    result = metrics.result(record, args.trace == 1)
    for line in metrics.report(record):
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
