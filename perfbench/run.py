"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The inputs are generated from the
seed here, before the worker process starts, and cached per seed under
``perfbench/.cache``; the worker only reads them.  Each run gets a fresh temp root
inside the checkout (``perfbench/.tmp/<pid>``) that serves as
``TMPDIR``, the Python ``tempfile`` directory, the JVM temp dir, the
Spark local dir and the index catalog base, so no durable artifact of
an earlier run (``toshi_spark_seg_*``, ``toshi_spark_cat_*``,
``toshi_bulk_*``) can be reused.  The run itself happens in a child
process in its own process group; when it ends, the group is killed
and reaped and the temp root is deleted.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``.  The full record of
the run (environment, canary, samples, spans) is kept under
``perfbench/.runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 160


def _kill_group(pgid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["search", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="store this run's digests as the seed's golden "
                         "(only where none exists and no check failed)")
    args = ap.parse_args()
    started = time.time()

    if not os.path.isfile(os.path.join(REPO, "toshi_spark", "__init__.py")):
        print("perfbench: no toshi_spark package next to perfbench/",
              file=sys.stderr)
        return 2

    sys.path[:0] = [HERE, REPO]
    import gen

    t = time.time()
    inputs = gen.prepare(os.path.join(HERE, ".cache"), args.workload,
                         args.seed)
    print(f"perfbench: inputs ready in {time.time() - t:.1f} s",
          file=sys.stderr)

    root = os.path.join(HERE, ".tmp", str(os.getpid()))
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-"
                             f"{time.strftime('%Y%m%dT%H%M%S')}-"
                             f"{os.getpid()}.json")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, TMPDIR=root, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"),
               SPARK_GRAFT_DRIVER_MEM="3g", PYTHONHASHSEED="0",
               # the JVMs would otherwise keep perf data in /tmp
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", root, "--inputs", json.dumps(inputs),
           "--out", out] + (["--record-golden"] if args.record_golden else [])
    proc = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = -1
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s",
              file=sys.stderr)
    finally:
        _kill_group(proc.pid)
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    with open(out) as f:
        record = json.load(f)
    for r in record.get("fail_reasons", []):
        print(f"perfbench: failed: {r}", file=sys.stderr)
    print(f"perfbench: env {json.dumps(record['env'])}", file=sys.stderr)
    print(f"perfbench: run took {time.time() - started:.1f} s",
          file=sys.stderr)
    print(json.dumps({k: record[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
