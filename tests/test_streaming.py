"""Streaming surface: exactly-once extraction parity with the batch
path, and watermarked windowed aggregation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _split_input(spark, transcripts_path, out_dir, n_files=4):
    """Spread the fixture over several files so AvailableNow runs
    multiple microbatches (watermark advancement, file-source paging)."""
    (
        spark.read.parquet(transcripts_path)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return out_dir


def test_streaming_extract_matches_batch(spark, transcripts_path, tmp_path):
    from ocr_spark.job import ensure_package_shipped, extract_transcripts
    from ocr_spark.streaming import run_stream_once, streaming_extract

    ensure_package_shipped(spark)
    src = _split_input(spark, transcripts_path, str(tmp_path / "src"))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    run_stream_once(streaming_extract(spark, src), out, ckpt)
    stream_rows = {
        (r["conv_id"], r["turn_idx"]): r["extracted_text"]
        for r in spark.read.parquet(out).collect()
    }
    batch_rows = {
        (r["conv_id"], r["turn_idx"]): r["extracted_text"]
        for r in extract_transcripts(spark.read.parquet(transcripts_path)).collect()
    }
    assert stream_rows == batch_rows

    # idempotent restart: draining again adds nothing (exactly-once sink)
    run_stream_once(streaming_extract(spark, src), out, ckpt)
    assert spark.read.parquet(out).count() == len(batch_rows)


def test_windowed_turn_counts(spark, transcripts_path, tmp_path):
    from ocr_spark.streaming import windowed_turn_counts

    src = _split_input(spark, transcripts_path, str(tmp_path / "src2"))
    agg = windowed_turn_counts(spark, src, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT sum(n_turns) AS n FROM wincounts").collect()[0]["n"]
    expected = spark.read.parquet(src).count()
    assert got == expected
    # window integrity: each (window, conv) count also matches a batch
    # group-by over the same bucketing
    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "conv_id")
        .count()
        .count()
    )
    assert spark.sql("SELECT count(*) AS c FROM wincounts").collect()[0]["c"] == batch


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark keyed on the text fingerprint:
    duplicates arriving across microbatches within the horizon are
    dropped; exactly one survivor per distinct normalized text."""
    from datetime import datetime, timedelta

    from ocr_spark.streaming import run_stream_once, streaming_dedup

    base = datetime(2026, 1, 1, 12, 0, 0)
    texts = ["alpha beta gamma", "delta epsilon", "ALPHA  beta gamma", "zeta"]
    # 12 rows / 4 normalized-distinct texts ("ALPHA  beta gamma"
    # normalizes to the same fingerprint as texts[0]) within 10 minutes
    rows = [
        (f"c{i}", 0, "user", texts[i % 4], None, base + timedelta(seconds=30 * i))
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    src = str(tmp_path / "dsrc")
    df.repartition(3).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")
    run_stream_once(streaming_dedup(spark, src), out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 3  # texts[0]≡texts[2] under normalization
    assert got.select("fp").distinct().count() == 3
    # exactly-once restart: draining again adds nothing
    run_stream_once(streaming_dedup(spark, src), out, ckpt)
    assert spark.read.parquet(out).count() == 3


def test_stateful_conv_progress(spark, transcripts_path, tmp_path):
    """applyInPandasWithState: running per-conversation totals carried
    across microbatches; the final update per conv equals the batch
    rollup regardless of how the input was split into batches."""
    from ocr_spark.job import ensure_package_shipped
    from ocr_spark.streaming import conv_progress_stream

    ensure_package_shipped(spark)
    src = _split_input(spark, transcripts_path, str(tmp_path / "src3"), n_files=5)
    q = (
        conv_progress_stream(spark, src, max_files_per_trigger=2)
        .writeStream.format("memory")
        .queryName("convprogress")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per conv per touching batch; the final
    # state is the row with the max n_turns per conv
    final = {
        r["conv_id"]: (r["n_turns"], r["total_chars"], r["max_turn_idx"])
        for r in spark.sql(
            """
            SELECT conv_id, n_turns, total_chars, max_turn_idx FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY conv_id ORDER BY n_turns DESC) AS rn
              FROM convprogress) WHERE rn = 1
            """
        ).collect()
    }
    batch = {
        r["conv_id"]: (r["n_turns"], r["total_chars"], r["max_turn_idx"])
        for r in spark.read.parquet(src)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("total_chars"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
        .collect()
    }
    assert final == batch


def test_streaming_sessionize_matches_batch_session_window(spark, transcripts_path, tmp_path):
    """The session_window streaming twin: complete-mode output over
    the drained fixture equals the batch session_window groupBy on the
    same data, and turn totals are conserved."""
    from ocr_spark.streaming import streaming_sessionize

    src = _split_input(spark, transcripts_path, str(tmp_path / "src_sess"))
    q = (
        streaming_sessionize(spark, src, gap="30 minutes", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("sessout")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["conv_id"], r["session_start"], r["session_end"], r["n_turns"])
        for r in spark.sql("SELECT * FROM sessout").collect()
    }
    batch = {
        (r["conv_id"], r["sw"]["start"], r["sw"]["end"], r["n"])
        for r in (
            spark.read.parquet(src)
            .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "conv_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    assert got == batch
    assert sum(r[3] for r in got) == spark.read.parquet(src).count()


def test_streaming_sessionize_gap_boundaries(spark, tmp_path):
    """Constructed gaps pin the split rule: 29m59s stays one session,
    30m01s splits — matching the batch lag-rule everywhere off the
    exact boundary."""
    from datetime import datetime, timedelta

    from ocr_spark.streaming import streaming_sessionize

    base = datetime(2026, 1, 1, 8, 0, 0)
    rows = [
        ("c1", 0, "user", "a", None, base),
        ("c1", 1, "user", "b", None, base + timedelta(minutes=29, seconds=59)),
        ("c1", 2, "user", "c", None, base + timedelta(minutes=70)),  # 40m gap → split
        ("c2", 0, "user", "d", None, base),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    src = str(tmp_path / "gap_src")
    df.write.mode("overwrite").parquet(src)
    q = (
        streaming_sessionize(spark, src, gap="30 minutes", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("gapsess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["conv_id"], r["n_turns"])
        for r in spark.sql("SELECT * FROM gapsess").collect()
    )
    assert got == [("c1", 1), ("c1", 2), ("c2", 1)]


def test_streaming_incremental_dedup_index_grows(spark, tmp_path):
    """Two sequential drains: drop 1's novel fps land in the index,
    so drop 2's re-sent doc comes back dup_index and only genuinely
    new text is novel; replaying an epoch's batch fn is a no-op
    (exactly-once on both the verdict sink and the index)."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming import (
        incremental_dedup_batch_fn,
        streaming_incremental_dedup,
    )

    src = str(tmp_path / "isrc")
    idx = str(tmp_path / "iidx")
    out = str(tmp_path / "iout")
    ckpt = str(tmp_path / "ickpt")

    drop1 = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc"), (3, "alpha  DOC")],
        "doc_id long, text string",
    )
    drop1.coalesce(1).write.mode("append").parquet(src)
    streaming_incremental_dedup(spark, src, idx, out, ckpt)
    v1 = {r.doc_id: r.verdict for r in spark.read.parquet(out).collect()}
    assert v1 == {1: "novel", 2: "novel", 3: "dup_batch"}
    assert spark.read.parquet(idx).count() == 2  # alpha + beta fps

    drop2 = spark.createDataFrame(
        [(4, "ALPHA doc"), (5, "gamma doc")], "doc_id long, text string"
    )
    drop2.coalesce(1).write.mode("append").parquet(src)
    streaming_incremental_dedup(spark, src, idx, out, ckpt)
    v2 = {r.doc_id: r.verdict for r in spark.read.parquet(out).collect()}
    assert v2[4] == "dup_index" and v2[5] == "novel"
    assert len(v2) == 5
    assert spark.read.parquet(idx).count() == 3

    # replayed micro-batch (same epoch id already marked): no-op
    replay = incremental_dedup_batch_fn(spark, idx, out)
    replay(drop2, 0)
    assert spark.read.parquet(idx).count() == 3
    assert spark.read.parquet(out).count() == 5


def test_incremental_dedup_probe_reads_only_batch_buckets(spark, tmp_path):
    """The persistent index is bucketed by fp prefix and an epoch's
    probe lists ONLY the buckets the micro-batch can hit — the IO
    twin of the batch operator's bucketing note (the full-index
    re-read the r4 verdict flagged is gone)."""
    from ocr_spark.functions.text import fingerprint
    from ocr_spark.streaming.extract_stream import (
        _BUCKET_HEX_CHARS,
        INDEX_BUCKET_COL,
        _index_probe_paths,
        incremental_dedup_batch_fn,
    )

    idx = str(tmp_path / "bidx")
    out = str(tmp_path / "bout")
    fn = incremental_dedup_batch_fn(spark, idx, out)

    b0 = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(16)], "doc_id long, text string"
    )
    fn(b0, 0)

    # the epoch landed partitioned by bucket
    e0 = os.path.join(idx, "epoch=0")
    buckets0 = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(e0)
        if d.startswith(f"{INDEX_BUCKET_COL}=")
    )
    assert buckets0, "index epoch must be written bucketed"
    assert all(len(b) == _BUCKET_HEX_CHARS for b in buckets0)

    # a one-doc batch probes exactly its own (present) bucket …
    one_fp = (
        spark.createDataFrame([(99, "doc number 3")], "doc_id long, text string")
        .select(fingerprint(F.col("text")).alias("fp"))
        .collect()[0]["fp"]
    )
    one_bucket = one_fp[:_BUCKET_HEX_CHARS]
    assert one_bucket in buckets0
    probe = _index_probe_paths(idx, ["epoch=0"], [one_bucket])
    assert probe == [os.path.join(e0, f"{INDEX_BUCKET_COL}={one_bucket}")]
    # … and an absent bucket yields no paths at all (no full-index scan)
    absent = next(
        f"{i:02x}" for i in range(256) if f"{i:02x}" not in buckets0
    )
    assert _index_probe_paths(idx, ["epoch=0"], [absent]) == []

    # membership still works through the bucketed probe end-to-end
    b1 = spark.createDataFrame(
        [(100, "doc number 3"), (101, "a brand new doc")],
        "doc_id long, text string",
    )
    fn(b1, 1)
    v = {
        r["doc_id"]: r["verdict"]
        for r in spark.read.parquet(os.path.join(out, "epoch=1")).collect()
    }
    assert v == {100: "dup_index", 101: "novel"}


# incremental_dedup_batch_fn refuses object-store paths loudly: its
# os.listdir-based marker discovery would silently see an empty index
# there and emit all-novel verdicts.
@pytest.mark.parametrize(
    "bad", ["s3://bucket/index", "hdfs://nn:8020/index", "file:///tmp/index"]
)
def test_incremental_dedup_rejects_remote_paths(spark, tmp_path, bad):
    from ocr_spark.streaming.extract_stream import incremental_dedup_batch_fn

    with pytest.raises(ValueError, match="LOCAL"):
        incremental_dedup_batch_fn(spark, bad, str(tmp_path / "out"))
    with pytest.raises(ValueError, match="LOCAL"):
        incremental_dedup_batch_fn(spark, str(tmp_path / "idx"), bad)


def test_incremental_dedup_accepts_local_paths(spark, tmp_path):
    from ocr_spark.streaming.extract_stream import incremental_dedup_batch_fn

    fn = incremental_dedup_batch_fn(
        spark, str(tmp_path / "idx"), str(tmp_path / "out")
    )
    assert callable(fn)
