"""Custom stateful streaming operator: per-conversation progress
tracking via ``applyInPandasWithState``.

The reference streams per-job status events to the browser and loses
them on disconnect (``OCR API 2/api.py:85-96,167-178`` — SURVEY.md
§2.7/P6/S6). This is the durable data-plane generalization: arbitrary
per-key state carried across microbatches in the streaming state store,
emitting an updated progress row per conversation per batch. The same
pattern hosts any custom stateful operator Spark lacks natively
(session carry-over, dedup-by-key-seen, rate monitors).

Scale notes: state is per-conv (a few longs), partitioned by the
groupBy hash — state store size grows with live conversations, not
turns. Use ``GroupStateTimeout.ProcessingTimeTimeout`` + ``state
.setTimeoutDuration`` in deployments where conversations end (evict
idle keys); the default here keeps NoTimeout for deterministic tests.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.schema import TRANSCRIPT_SCHEMA
from ocr_spark.udfs import drop_zip_finders

PROGRESS_STATE_SCHEMA = StructType(
    [
        StructField("n_turns", LongType()),
        StructField("total_chars", LongType()),
        StructField("max_turn_idx", IntegerType()),
    ]
)

PROGRESS_OUTPUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", LongType()),
        StructField("total_chars", LongType()),
        StructField("max_turn_idx", IntegerType()),
    ]
)


def _track(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """One update row per conversation per microbatch; state carries
    the running totals. Order-independent accumulators only (sum,
    count, max) so results don't depend on batch arrival order."""
    (conv_id,) = key
    if state.exists:
        n_turns, total_chars, max_turn = state.get
    else:
        n_turns, total_chars, max_turn = 0, 0, -1
    for pdf in pdfs:
        n_turns += len(pdf)
        total_chars += int(pdf["text"].str.len().fillna(0).sum())
        if len(pdf):
            max_turn = max(max_turn, int(pdf["turn_idx"].max()))
    state.update((n_turns, total_chars, max_turn))
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "n_turns": [n_turns],
            "total_chars": [total_chars],
            "max_turn_idx": [max_turn],
        }
    )
    drop_zip_finders()


def conv_progress_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """readStream over transcripts → stateful per-conv progress rows."""
    src = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        src.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _track,
            outputStructType=PROGRESS_OUTPUT_SCHEMA,
            stateStructType=PROGRESS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
