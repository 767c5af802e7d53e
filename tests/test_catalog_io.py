"""Table-identifier surface of read_input/write_output: the Iceberg
branch when the runtime JAR is present, the session-catalog managed
parquet table otherwise (this sandbox ships no JAR, so the fallback is
the live-tested branch and the Iceberg branch is skip-guarded)."""

from __future__ import annotations

import os

import pytest

from ocr_spark.plans.session import iceberg_runtime_available
from ocr_spark.sources.io import read_input, write_output


def test_runtime_probe_is_cached_and_boolean(spark):
    a = iceberg_runtime_available(spark)
    assert isinstance(a, bool)
    assert iceberg_runtime_available(spark) is a  # cached per context


def test_identifier_roundtrip_via_session_catalog(spark, tmp_path):
    """Identifier writes must land in the catalog and read back through
    the same identifier — job code never branches on deployment."""
    if iceberg_runtime_available(spark):
        pytest.skip("covered by test_identifier_roundtrip_via_iceberg")
    df = spark.createDataFrame(
        [("c1", 0, "hello world"), ("c1", 1, "second turn")],
        "conv_id string, turn_idx int, text string",
    )
    tbl = "ocr_spark_test_roundtrip"
    try:
        write_output(df, tbl)
        back = read_input(spark, tbl)
        assert sorted(tuple(r) for r in back.collect()) == sorted(
            tuple(r) for r in df.collect()
        )
        # the fallback provider is parquet, not Iceberg
        provider = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
        }.get("Provider", "").lower()
        assert provider == "parquet"
        # overwrite is idempotent (same identifier, fresh contents)
        write_output(df.limit(1), tbl)
        assert read_input(spark, tbl).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_jsonl_roundtrip_sft_pairs(spark, transcripts_path, tmp_path):
    """SFT pairs export to JSONL (the training-data interchange format)
    and read back with an explicit schema — no inference pre-pass, and
    the values survive the round trip exactly."""
    import os

    from ocr_spark.operators.conversation import sft_pairs
    from ocr_spark.sources.io import read_jsonl, write_jsonl

    pairs = sft_pairs(spark.read.parquet(transcripts_path))
    dest = str(tmp_path / "sft.jsonl")
    write_jsonl(pairs, dest)
    # line-delimited shards, one per task — no coalesce
    shards = [f for f in os.listdir(dest) if f.startswith("part-")]
    assert shards
    with open(os.path.join(dest, shards[0])) as fh:
        first = fh.readline()
    assert first.startswith("{") and first.rstrip().endswith("}")

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in pairs.schema)
    back = read_jsonl(spark, dest, schema=schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, pairs.collect()))


def test_identifier_roundtrip_via_iceberg(spark, tmp_path):
    """The production branch: an atomic Iceberg snapshot commit via
    writeTo().createOrReplace(). Runs only where the runtime JAR is on
    the classpath (a real cluster / a dev box with --packages)."""
    if not iceberg_runtime_available(spark):
        pytest.skip("Iceberg runtime JAR not on classpath in this sandbox")
    df = spark.createDataFrame([("c1", 0, "t")], "conv_id string, turn_idx int, text string")
    tbl = "ocr_spark_test_iceberg"
    try:
        write_output(df, tbl)
        assert read_input(spark, tbl).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_compact_parquet_preserves_rows_and_reduces_files(spark, tmp_path):
    """Compaction: many tiny files → few, rows byte-identical, old
    directory cleaned up, metrics accurate."""
    from ocr_spark.sources.io import compact_parquet, load_table

    src = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_tiny")
    src.repartition(24).write.parquet(path)
    import os as _os

    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    stats = compact_parquet(spark, path, target_file_mb=256)
    assert stats["files_before"] == 24
    assert stats["files_after"] == 1  # tiny table → one file
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert after == before
    assert not _os.path.exists(path + ".compact_old")
    assert not _os.path.exists(path + ".compact_staging")


# compact_parquet recovers a leftover .compact_old at entry: a crash
# between the two swap renames must not strand the table.
def _rows(spark, path):
    return sorted(r["v"] for r in spark.read.parquet(path).collect())


def test_compact_recovers_mid_swap_crash(spark, tmp_path):
    from ocr_spark.sources.io import compact_parquet

    path = str(tmp_path / "t")
    spark.range(100).withColumnRenamed("id", "v").repartition(6).write.parquet(path)
    # simulate a crash BETWEEN the two renames: live path gone, data
    # stranded at .compact_old
    os.replace(path, path + ".compact_old")
    assert not os.path.exists(path)
    stats = compact_parquet(spark, path, target_file_mb=256)
    assert stats["files_after"] == 1
    assert _rows(spark, path) == list(range(100))
    assert not os.path.exists(path + ".compact_old")


def test_compact_discards_stale_old_after_completed_swap(spark, tmp_path):
    from ocr_spark.sources.io import compact_parquet

    path = str(tmp_path / "t")
    spark.range(50).withColumnRenamed("id", "v").repartition(4).write.parquet(path)
    # simulate a crash AFTER the swap, before cleanup: live path is the
    # new data, .compact_old is a superseded copy (different content so
    # a wrong recovery direction would be caught)
    stale = path + ".compact_old"
    spark.range(5).withColumnRenamed("id", "v").write.parquet(stale)
    compact_parquet(spark, path, target_file_mb=256)
    assert _rows(spark, path) == list(range(50))
    assert not os.path.exists(stale)
