"""Extraction benchmark: one measured run of one workload.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 20 --trace 0

Runs ``ocr_spark.job.run_extraction`` through its public API from this
one Python process, on an input generated from ``--seed``, and checks
every job's output turn by turn against a single-process run of the
extraction core. Untraced (``--trace 0``) it reports the end-to-end
metrics; traced (``--trace 1``) the per-layer ones (see
``BENCHMARK.json`` and ``METRICS.md``). The last line of stdout is one
JSON object.

High parallelism is ``local[nproc]``; low parallelism, used only for the
scaling figure, is ``local[nproc/4]``. Both run in the same JVM, one
``SparkContext`` at a time. All files go under ``.perfbench/`` at the
root of the checkout; the run directory is removed at exit, and the JVM
and its Python workers are stopped before the process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("mixed", "chat_skew")


def run_all(args) -> int:
    """Each workload in its own child process, one after another; then
    one JSON line with every metric as ``<workload>.<metric>``."""
    results = {}
    for workload in WORKLOADS:
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = child.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if child.returncode != 0 or not lines:
            return child.returncode or 1
        results[workload] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "job.py")):
        print(f"perfbench: no ocr_spark package under {ROOT}: "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    sys.path.insert(0, ROOT)
    from harness import Bench, jvm_options
    from tracing import Tracer

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit starts a launcher JVM before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_options(work)
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id) if args.trace else None
    bench = Bench(args.workload, args.seed, work)
    # SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        os.makedirs(os.environ["TMPDIR"])
        setup_s = bench.setup()
        if tracer:
            values, wanted = bench.traced(args.seconds, tracer), spec["per_layer"]
        else:
            values, wanted = bench.measure(args.seconds), spec["end_to_end"]
            values["setup_s"] = setup_s
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    if tracer:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{run_id}.json"))

    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} fail_ratio = {bench.failed / max(1, bench.attempted):.6g} "
          f"({bench.failed} of {bench.attempted} jobs and checks)")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
