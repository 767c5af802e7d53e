"""Spans, Spark stage metrics and in-process core timing for the traced run.

Spans are recorded by the benchmark around its calls into each layer,
kept in memory and written out once when the run ends. Spark plans are
lazy, so the benchmark times the job's layers by running cumulative
cuts of the job's plan next to the real call: scan, +salt, +exchange,
+mapInPandas to the ``noop`` sink, then the same plan written as
parquet. A layer's self time is the difference between consecutive
cuts; what the real call spends beyond the last cut (schema check,
manifest, markers) is ``job.driver_s``.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import time

import pandas as pd
from pyspark.sql import functions as F

from ocr_spark.core.extract import extract_turn
from ocr_spark.core.html_main import extract_html
from ocr_spark.core.lines import split_lines_with_spans
from ocr_spark.core.pdf_layout import extract_pdf_like
from ocr_spark.core.plain import extract_plain
from ocr_spark.core.sniff import sniff_kind
from ocr_spark.job import ensure_package_shipped, with_skew_salt
from ocr_spark.schema import OUTPUT_SCHEMA
from ocr_spark.sources.io import read_input, write_output
from ocr_spark.udfs import extract_batch

KINDS = {"html": extract_html, "pdf_like": extract_pdf_like, "plain": extract_plain}
# the job's layers in plan order: each cut of the plan extends the one before
LAYERS = ("io.scan_s", "job.salt_s", "job.exchange_s", "udfs.stage_s", "io.write_s")
BATCH_ROWS = 2048  # the session's spark.sql.execution.arrow.maxRecordsPerBatch


class Tracer:
    """In-memory span and count recorder for one benchmark run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        self._open.append(span["id"])
        try:
            yield span
        finally:
            self._open.pop()
            span["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def self_time(self, span: dict) -> float:
        """Duration minus the part covered by direct children."""
        children = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == span["id"]
        )
        return span["end"] - span["start"] - children

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + self.self_time(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": self.spans,
                    "counts": self.counts,
                    "self_s": self.self_times(),
                },
                f,
                indent=1,
            )


# --------------------------------------------------------------------------
# Spark: plan cuts and status-store stage metrics
# --------------------------------------------------------------------------

def layer_self_times(spark, tracer, input_path, summary, group, scratch) -> dict[str, float]:
    """Self time of each layer in ``LAYERS`` for the job that produced
    ``summary``: the job's plan, for the same shards, is cut after each
    layer and run to the ``noop`` sink (the last one to a parquet
    write); each layer's self time is the difference between
    consecutive cuts."""

    def extract(batches):  # same per-batch work as the job's runner
        for pdf in batches:
            ext = extract_batch(pdf["text"])
            yield pd.concat(
                [pdf[["conv_id", "turn_idx"]].reset_index(drop=True), ext.reset_index(drop=True)],
                axis=1,
            )

    ensure_package_shipped(spark)
    n_shards = summary["n_shards"]
    num_partitions = spark.sparkContext.defaultParallelism * 2  # the job's default
    src = read_input(spark, input_path).select("conv_id", "turn_idx", "text")
    cuts: list[list] = [[] for _ in LAYERS]
    for shard in summary["shards_run"]:
        part = src
        if n_shards > 1:
            part = src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(n_shards)) == shard)
        salted = with_skew_salt(part)
        exchanged = salted.repartition(num_partitions, "conv_id", "salt")
        extracted = exchanged.mapInPandas(extract, OUTPUT_SCHEMA)
        for cut, df in zip(cuts, (part, salted, exchanged, extracted, extracted)):
            cut.append(df)

    out, prev = {}, 0.0
    for name, dfs in zip(LAYERS, cuts):
        spark.sparkContext.setJobGroup(f"{group}-{name}", name)
        with tracer.span(f"cut.{name}") as span:
            for k, df in enumerate(dfs):
                if name == "io.write_s":
                    write_output(df, os.path.join(scratch, f"shard={k}"))
                else:
                    df.write.format("noop").mode("overwrite").save()
        cum = span["end"] - span["start"]
        out[name], prev = cum - prev, cum
    return out


def stage_metrics(spark, group: str) -> dict:
    """Sum the status-store metrics of every stage the job group ran.
    ``task_max_over_median`` is taken on the stage with the most
    executor run time (the extraction stage)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)  # listener events are async
    tracker, store = sc.statusTracker(), jsc.statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    m = dict(jobs=len(job_ids), stages=0, input_records=0, shuffle_write_bytes=0, spill_bytes=0)
    busiest, busiest_rt = None, -1
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        m["stages"] += 1
        m["input_records"] += sd.inputRecords()
        m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if sd.executorRunTime() > busiest_rt:
            busiest, busiest_rt = sd, sd.executorRunTime()
    m["task_max_over_median"] = 0.0
    if busiest is not None:
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(busiest.stageId(), busiest.attemptId(), q)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            if rt.apply(0) > 0:
                m["task_max_over_median"] = rt.apply(1) / rt.apply(0)
    return m


# --------------------------------------------------------------------------
# In-process, single-thread core and UDF-boundary timing
# --------------------------------------------------------------------------

def _cpu_s(fn, items) -> tuple[float, list]:
    t0 = time.thread_time_ns()
    out = [fn(x) for x in items]
    return (time.thread_time_ns() - t0) / 1e9, out


def core_breakdown(texts: list[str], tracer: Tracer) -> dict[str, float]:
    """Per-layer CPU of the extraction core over ``texts``."""
    n = len(texts)
    with tracer.span("core.sniff"):
        sniff_s, kinds = _cpu_s(sniff_kind, texts)
    with tracer.span("core.lines"):
        lines_s, _ = _cpu_s(split_lines_with_spans, texts)
    m = {
        "core.sniff.us_per_turn": sniff_s / n * 1e6,
        "core.lines.us_per_turn": lines_s / n * 1e6,
    }
    per_kind = {}
    for kind, fn in KINDS.items():
        group = [t for t, k in zip(texts, kinds) if k == kind]
        with tracer.span(f"core.{kind}"):
            cpu_s, results = _cpu_s(fn, group)
        kept = sum(r[2] for r in results)
        seen = kept + sum(r[3] for r in results)
        kb = sum(len(t.encode("utf-8")) for t in group) / 1024
        per_kind[kind] = cpu_s
        m[f"core.{kind}.turns"] = len(group)
        m[f"core.{kind}.us_per_turn"] = cpu_s / len(group) * 1e6 if group else 0.0
        m[f"core.{kind}.us_per_kb"] = cpu_s / kb * 1e6 if kb else 0.0
        m[f"core.{kind}.kept_ratio"] = kept / seen if seen else 0.0
    total = sniff_s + sum(per_kind.values())
    for kind, cpu_s in per_kind.items():
        m[f"core.{kind}.cpu_share"] = cpu_s / total
    return m


def udf_boundary_us_per_turn(texts: list[str], tracer: Tracer) -> float:
    """``extract_batch`` on Arrow-sized batches minus ``extract_turn``
    over the same rows: the per-turn cost of the batch wrapper. Each
    side is timed twice, alternating, with the collector off, and the
    faster time kept, since the difference is small against the core."""
    batch_s = turn_s = 0.0
    gc.disable()
    try:
        for i in range(0, len(texts), BATCH_ROWS):
            chunk = pd.Series(texts[i : i + BATCH_ROWS])
            b, t = [], []
            for _ in range(2):
                with tracer.span("udfs.extract_batch"):
                    b.append(_cpu_s(extract_batch, [chunk])[0])
                with tracer.span("core.extract_turn"):
                    t.append(_cpu_s(extract_turn, chunk)[0])
            batch_s += min(b)
            turn_s += min(t)
    finally:
        gc.enable()
    return (batch_s - turn_s) / len(texts) * 1e6
