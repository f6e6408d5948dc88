#!/usr/bin/env python3
"""graft benchmark: one seeded workload per run, correctness-checked.

Run from the root of a checkout:

  python3 perfbench/run.py --workload transfer_parquet --seed 1 --seconds 6 --trace 0
  python3 perfbench/run.py --selftest

The first run builds graft and the benchmark from source (see build.py).
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the lines before it are
the full human-readable report. JVM and Spark logs go to
.bench_work/last-jvm.log, span traces to .bench_work/traces/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_TIMEOUT_S = 170
WORK_ROOT = ".bench_work"


def fail(msg, code=2):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.exit(code)


def run_jvm(cmd, log_path, deadline):
    """Run the JVM, relay its stdout, kill it (and wait) on the deadline."""
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded its time limit; log: {log_path}", 3)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        with open(log_path, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload",
                    help="transfer_parquet, transfer_jdbc, curate_text or ann_query")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="tiny-size checks of the benchmark itself")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")) \
            or not os.path.isfile("build.sbt"):
        fail("graft's sources (src/main/scala/graft, build.sbt) are not in the "
             "current directory; run from the root of a graft checkout")

    try:
        classpath, archive_flag = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    deadline = time.time() + RUN_TIMEOUT_S

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.abspath(os.path.join(WORK_ROOT, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traces = os.path.abspath(os.path.join(WORK_ROOT, "traces"))
    if a.selftest:
        main_args = ["--selftest", "--work", work]
    else:
        main_args = ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--work", work, "--traces", traces]
    code = run_jvm(build.jvm_command(classpath, work, main_args, archive_flag),
                   os.path.join(work, "jvm.log"), deadline)
    shutil.copyfile(os.path.join(work, "jvm.log"), os.path.join(WORK_ROOT, "last-jvm.log"))
    if code == 0:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
