"""The benchmark's runs: set-up, untraced measurement and traced run.

``run.py`` imports this module only after it has checked that the
``ocr_spark`` package is there to import.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

from pyspark import SparkContext
from pyspark.sql import functions as F

import procstat
import tracing as tr
import workloads as w
from ocr_spark.job import SimulatedFailure, read_manifest, run_extraction
from ocr_spark.plans.session import build_session

SETUP_REPS = 3  # session starts per run; setup_s takes their median
# untimed jobs before measuring: the first pays for class loading and
# worker start-up, the next ones for most of the JIT's work
WARM_JOBS = 3
# jobs per parallelism level, run even past the deadline
MIN_HIGH_JOBS = 4
MIN_LOW_JOBS = 2
MIN_TRACED = 2
HIGH_SHARE = 0.5  # share of --seconds spent at high parallelism
CORE_SAMPLE = 2048  # payloads timed in-process per traced run
DRIVER_MEMORY = "2g"


def jvm_options(work: str) -> str:
    """Keep the JVM's files in the run directory: its temp dir, and no
    hsperfdata file in the system temp dir."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Bench:
    """One workload's input, oracle, Spark session and checks."""

    def __init__(self, workload: str, seed: int, work: str):
        self.workload, self.seed, self.work = workload, seed, work
        self.high = len(os.sched_getaffinity(0))
        self.low = max(1, self.high // 4)
        self.spark = None
        self.attempted = self.failed = 0
        self.input = os.path.join(work, "input.parquet")
        self.small_input = os.path.join(work, "small.parquet")
        self.out, self.ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")

    # ---------------------------------------------------------------- checks
    def _record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")
        return ok

    # --------------------------------------------------------------- session
    def start_session(self, cores: int) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=max(8, cores),
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions": jvm_options(self.work),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        """Stop the SparkContext and the JVM, and wait until every
        process this run started has exited."""
        children = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
        try:
            if self.spark is not None:
                self.spark.stop()
        except Exception:  # carry on: the JVM must still be stopped
            log("stopping the SparkContext failed\n" + traceback.format_exc())
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # carry on: closing stdin below ends the JVM
                log("closing the py4j gateway failed\n" + traceback.format_exc())
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                with contextlib.suppress(OSError):
                    proc.stdin.close()  # the JVM exits on EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        _reap(children)

    # ------------------------------------------------------------------ jobs
    def job(self, tracer=None, group: str | None = None, resume: bool = False) -> dict | None:
        """One timed call of the job, checked against the oracle.
        Returns its wall, turns, CPU and summary, or None on failure.

        With ``resume``, first run the job sharded until it crashes
        after writing one shard's output but not its marker; then time
        the call that resumes it. Its turns are those of the shards the
        resume ran."""
        sc = self.spark.sparkContext
        kwargs = {}
        for d in (self.out, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        try:
            if resume:
                kwargs = dict(checkpoint_dir=self.ckpt, n_shards=w.RESUME_SHARDS)
                sc.setJobGroup("crash", "crash")
                try:
                    run_extraction(self.spark, self.input, self.out,
                                   fail_after_shard=w.RESUME_CRASH_AFTER, **kwargs)
                    raise RuntimeError("the crash run did not crash")
                except SimulatedFailure:
                    pass
            # stage metrics are looked up by job group
            sc.setJobGroup(group or "job", group or "job")
            name = "job.resume" if resume else "job.run_extraction"
            span = tracer.span(name) if tracer else contextlib.nullcontext()
            cpu0 = procstat.tree_cpu_s()
            with span:
                t0 = time.perf_counter()
                summary = run_extraction(self.spark, self.input, self.out, **kwargs)
                wall = time.perf_counter() - t0
            cpu1 = procstat.tree_cpu_s()
            output = w.read_output(self.out)
            turns = output.num_rows
            if resume:
                turns = w.read_output(self.out, summary["shards_run"]).num_rows
        except Exception:
            self._record(False, "job raised\n" + traceback.format_exc())
            return None
        ok = w.output_matches(output, self.expected)
        if resume:
            ok = ok and summary["shards_run"] == list(range(w.RESUME_CRASH_AFTER, w.RESUME_SHARDS))
        if not self._record(ok, "output differs from the oracle"):
            return None
        jvm = SparkContext._gateway.proc.pid
        return {
            "wall": wall,
            "turns": turns,
            "cpu": procstat.cpu_delta_s(cpu0, cpu1),
            "jvm_cpu": cpu1.get(jvm, 0.0) - cpu0.get(jvm, 0.0),
            "summary": summary,
        }

    def start_workers(self) -> None:
        """Run the job once, untimed, on the small digest input: a new
        SparkContext starts its Python workers on its first job."""
        shutil.rmtree(self.out, ignore_errors=True)
        try:
            run_extraction(self.spark, self.small_input, self.out)
            ok = w.output_matches(w.read_output(self.out), self.small_expected)
        except Exception:
            log(traceback.format_exc())
            ok = False
        self._record(ok, "the small job failed or differs from the oracle")

    def jobs_until(self, deadline: float, min_jobs: int) -> list[dict]:
        done, tried = [], 0
        while tried < min_jobs or time.perf_counter() < deadline:
            tried += 1
            r = self.job()
            if r is not None:
                done.append(r)
        return done

    # ----------------------------------------------------------------- phases
    def setup(self) -> float:
        """Generate the input and its oracle, start Spark at high
        parallelism ``SETUP_REPS`` times and warm it up with
        ``WARM_JOBS`` jobs. The first start (the JVM launch) overlaps the
        input preparation. Returns setup_s: input preparation + the
        median session start + the warm-up."""
        boot: dict = {}

        def first_start() -> None:
            t = time.perf_counter()
            try:
                self.start_session(self.high)
            except BaseException as exc:  # re-raised on the main thread
                boot["error"] = exc
            boot["s"] = time.perf_counter() - t

        thread = threading.Thread(target=first_start, name="perfbench-boot")
        thread.start()
        try:
            t0 = time.perf_counter()
            df = w.gen_input(self.workload, self.seed)
            w.write_input(df, self.input)
            self.expected = w.oracle(df)
            input_s = time.perf_counter() - t0
            self.heavy = w.heavy_convs(df)
            self.texts = df["text"]
            small = w.gen_digest_input(self.workload)
            w.write_input(small, self.small_input)
            self.small_expected = w.oracle(small)
            self._record(
                w.digest_matches(self.workload, self.small_expected),
                f"core output digest differs from {os.path.basename(w.DIGEST_FILE)}",
            )
        finally:
            thread.join()
        if "error" in boot:
            raise boot["error"]
        starts = [boot["s"]]
        for _ in range(SETUP_REPS - 1):
            t = time.perf_counter()
            self.start_session(self.high)
            starts.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = [self.job() for _ in range(WARM_JOBS)]
        warm_s = time.perf_counter() - t
        log(f"set-up: input {input_s:.2f} s, starts {[round(x, 2) for x in starts]} s, "
            f"warm-up {[round(r['wall'], 2) for r in warm if r]} s")
        return input_s + _median(starts) + warm_s

    def measure(self, seconds: float) -> dict:
        """High parallelism, then low parallelism in a new SparkContext
        of the same JVM."""
        start = time.perf_counter()
        high = self.jobs_until(start + HIGH_SHARE * seconds, MIN_HIGH_JOBS)
        rss = procstat.py_worker_peak_rss_mb()
        self.start_session(self.low)
        self.start_workers()
        low = self.jobs_until(start + seconds, MIN_LOW_JOBS)
        log(f"high walls {[round(r['wall'], 2) for r in high]}, "
            f"low walls {[round(r['wall'], 2) for r in low]}")
        tps_high = _median(r["turns"] / r["wall"] for r in high)
        tps_low = _median(r["turns"] / r["wall"] for r in low)
        return {
            "turns_per_s": tps_high,
            "cpu_s_per_kturn": _median(1000 * r["cpu"] / r["turns"] for r in high),
            "scaling_eff": tps_high / (self.high / self.low * tps_low) if tps_low else 0.0,
            "py_worker_peak_rss_mb": rss,
        }

    def traced(self, seconds: float, tracer) -> dict:
        """Alternate untraced and traced calls of the job. Around each
        traced call, read its stage metrics and time the layers through
        plan cuts. Then time one resume, and the core in-process."""
        start = time.perf_counter()
        layers: dict[str, list[float]] = {name: [] for name in (*tr.LAYERS, "job.driver_s")}
        untraced, runs, stats = [], [], []
        i = 0
        while i < MIN_TRACED or time.perf_counter() < start + seconds:
            r = self.job()
            if r is not None:
                untraced.append(r)
            group = f"{tracer.run_id}-{i}"
            i += 1
            with tracer.span("iteration", iteration=i):
                r = self.job(tracer, group)
                if r is None:
                    continue
                runs.append(r)
                stats.append(tr.stage_metrics(self.spark, group))
                self_s = tr.layer_self_times(
                    self.spark, tracer, self.input, r["summary"], group,
                    os.path.join(self.work, "prefix_out"),
                )
            for name, value in self_s.items():
                layers[name].append(value)
            layers["job.driver_s"].append(r["wall"] - sum(self_s.values()))
        if not runs:
            raise RuntimeError("every traced job failed")
        shards_run = runs[-1]["summary"]["shards_run"]
        self.spark.sparkContext.setJobGroup("manifest", "manifest")
        manifest = read_manifest(self.spark, self.out)
        rows = manifest.filter(F.col("shard").isin(shards_run)).collect()
        part_turns = [row.n_turns for row in rows]
        failed_rows = (
            read_manifest(self.spark, self.out, dedupe=False)
            .filter(F.col("status") != "ok").count()
        )
        n_manifest = manifest.count()

        group = f"{tracer.run_id}-resume"
        with tracer.span("resume"):
            resumed = self.job(tracer, group, resume=True)
        resume_st = tr.stage_metrics(self.spark, group) if resumed else {}

        step = max(1, len(self.texts) // CORE_SAMPLE)
        texts = list(self.texts.iloc[::step][:CORE_SAMPLE])
        core = tr.core_breakdown(texts, tracer)
        boundary = tr.udf_boundary_us_per_turn(texts, tracer)

        self_s = {name: _median(v) for name, v in layers.items()}
        wall = _median(r["wall"] for r in runs)
        st = {k: _median(s[k] for s in stats) for k in stats[0]}
        tps = _median(r["turns"] / r["wall"] for r in runs)
        tps_untraced = _median(r["turns"] / r["wall"] for r in untraced)
        m = {
            **self_s,
            "io.bytes_in": sum(row.bytes_in for row in rows),
            "io.bytes_out": sum(row.bytes_out for row in rows),
            "job.salt_heavy_convs": self.heavy[0],
            "job.salted_turns": self.heavy[1],
            "job.shuffle_write_bytes": st["shuffle_write_bytes"],
            "job.spill_bytes": st["spill_bytes"],
            "job.partition_turns_max_over_median": max(part_turns) / _median(part_turns),
            "job.task_s_max_over_median": st["task_max_over_median"],
            "job.manifest_rows": n_manifest,
            "job.manifest_failed_rows": failed_rows,
            "job.input_rows_scanned_per_row": st["input_records"] / self.expected.num_rows,
            "job.resume_s": resumed["wall"] if resumed else 0.0,
            "job.resume_turns_per_s": resumed["turns"] / resumed["wall"] if resumed else 0.0,
            "job.resume_shards_run": len(resumed["summary"]["shards_run"]) if resumed else 0,
            "job.resume_shards_skipped": (
                len(resumed["summary"]["shards_skipped"]) if resumed else 0
            ),
            "job.resume_rows_scanned_per_row": (
                resume_st.get("input_records", 0) / self.expected.num_rows
            ),
            "job.jobs": st["jobs"],
            "job.stages": st["stages"],
            "udfs.boundary_us_per_turn": boundary,
            **core,
            "proc.jvm_cpu_s": _median(r["jvm_cpu"] for r in runs),
            "proc.py_cpu_s": _median(r["cpu"] - r["jvm_cpu"] for r in runs),
            "trace.job_wall_s": wall,
            "trace.layers_over_wall": sum(self_s[n] for n in tr.LAYERS) / wall,
            "trace.turns_per_s_untraced": tps_untraced,
            "trace.turns_per_s_traced": tps,
            "trace.overhead_pct": (tps_untraced / tps - 1) * 100,
        }
        for name, value in m.items():
            tracer.count(name, value)
        return m


def _reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left at the end."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if procstat.alive(p)]
        time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)
