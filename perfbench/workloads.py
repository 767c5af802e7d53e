"""Seeded workload inputs, the single-process oracle and output checks.

Every input is a pure function of ``(workload, seed)``; the program
under test only ever sees the parquet file written here.

- ``mixed``: the repository's own transcript fixture
  (``ocr_spark.fixtures.gen_transcripts``): html / pdf_like / plain
  payloads 40/30/30, two heavy conversations.
- ``chat_skew``: short one-line chat turns. A few conversations above
  the job's salting threshold hold ~30% of the turns; the rest have
  2-40 turns, interleaved in time order as a chat log would be.
- resume (a scenario of the traced run, on either input): the job run
  with ``RESUME_SHARDS`` shards crashes after writing shard
  ``RESUME_CRASH_AFTER`` (before its marker) and is then resumed, so one
  shard is skipped, one overwritten and the rest run.

The oracle runs ``extract_turn`` over every payload in this process,
with no Spark involved, and is what each job's output must equal turn
for turn. Because the oracle shares the extraction core with the job, a
committed digest of the core's output on a small default-seed input
(``digests.json``) guards against a core change that alters output.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark.core.extract import extract_turn
from ocr_spark.fixtures import gen_transcripts
from ocr_spark.job import DEFAULT_SALT_THRESHOLD

DEFAULT_SEED = 42

MIXED_SF = 0.01  # ~6,000 turns, ~8 MB of payload
CHAT_TURNS = 60_000
# share of all turns held by each heavy conversation (~30% in total)
CHAT_HEAVY_SHARES = (0.12, 0.08, 0.06, 0.04)
RESUME_SHARDS = 8
RESUME_CRASH_AFTER = 3

# the digest input: each generator at the default seed, at a small size
DIGEST_MIXED_SF = 0.002
DIGEST_CHAT_TURNS = 5_000
DIGEST_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")

SPAN_TYPE = pa.list_(pa.struct([("start", pa.int32()), ("end", pa.int32())]))
OUTPUT_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("kind", pa.string()),
        ("extracted_text", pa.string()),
        ("spans", SPAN_TYPE),
        ("blocks_kept", pa.int32()),
        ("blocks_dropped", pa.int32()),
        ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()),
    ]
)

_CHAT_WORDS = (
    "ok thanks please check the order status for my shipment today tomorrow "
    "invoice delivery truck driver arrived late early yes no maybe can you "
    "send update tracking number again route depot warehouse pallet crate "
    "payment pending done received confirm address pickup drop time slot "
    "morning evening call me back later sorry issue fixed still waiting "
    "where is it how much weight quantity price total net gross"
).split()
_CHAT_ENDINGS = (".", "?", "!", " :)", "...")


def gen_chat_skew(seed: int, n_turns: int = CHAT_TURNS) -> pd.DataFrame:
    """One-line chat turns (~120 chars) in time order across
    conversations; heavy conversations per ``CHAT_HEAVY_SHARES``."""
    rng = np.random.default_rng([seed, 7])
    sizes = [int(n_turns * s) for s in CHAT_HEAVY_SHARES]
    while sum(sizes) < n_turns:
        sizes.append(int(rng.integers(2, 41)))
    sizes[-1] -= sum(sizes) - n_turns
    # a chat log is time-ordered: conversations interleave, and each
    # conversation numbers its own turns in that order
    conv = rng.permutation(np.repeat(np.arange(len(sizes)), sizes))
    turn = pd.Series(conv).groupby(conv).cumcount().to_numpy(np.int32)

    n_words = rng.integers(16, 25, size=n_turns)
    word_ids = rng.integers(0, len(_CHAT_WORDS), size=(n_turns, 24))
    endings = rng.integers(0, len(_CHAT_ENDINGS), size=n_turns)
    order_no = rng.integers(100000, 999999, size=n_turns)
    with_no = rng.random(n_turns) < 0.2
    words = _CHAT_WORDS
    texts = []
    for i in range(n_turns):
        t = " ".join(words[w] for w in word_ids[i, : n_words[i]])
        if with_no[i]:
            t += f" #{order_no[i]}"
        texts.append(t[0].upper() + t[1:] + _CHAT_ENDINGS[endings[i]])
    return pd.DataFrame(
        {
            "conv_id": [f"chat{c:07d}" for c in conv],
            "turn_idx": turn,
            "role": np.where(turn % 2 == 0, "user", "assistant"),
            "text": texts,
        }
    )


def gen_input(workload: str, seed: int) -> pd.DataFrame:
    if workload == "chat_skew":
        return gen_chat_skew(seed)
    return gen_transcripts(MIXED_SF, seed)


def gen_digest_input(workload: str) -> pd.DataFrame:
    if workload == "chat_skew":
        return gen_chat_skew(DEFAULT_SEED, DIGEST_CHAT_TURNS)
    return gen_transcripts(DIGEST_MIXED_SF, DEFAULT_SEED)


def write_input(df: pd.DataFrame, path: str) -> str:
    # bounded row groups keep the scan splittable (see fixtures.py)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), path, row_group_size=2000
    )
    return path


def heavy_convs(df: pd.DataFrame, threshold: int = DEFAULT_SALT_THRESHOLD) -> tuple[int, int]:
    """(conversations the job salts, turns they hold)."""
    sizes = df["conv_id"].value_counts()
    heavy = sizes[sizes > threshold]
    return int(len(heavy)), int(heavy.sum())


def oracle(df: pd.DataFrame) -> pa.Table:
    """Single-process extraction over ``df``, sorted by (conv_id,
    turn_idx), in the job's output schema."""
    keys = df[["conv_id", "turn_idx", "text"]].sort_values(
        ["conv_id", "turn_idx"], kind="stable"
    )
    results = [extract_turn(t) for t in keys["text"]]
    return oracle_table(keys["conv_id"], keys["turn_idx"], results)


def oracle_table(conv_id, turn_idx, results) -> pa.Table:
    n_spans = np.fromiter((len(r.spans) for r in results), np.int32, len(results))
    offsets = np.zeros(len(results) + 1, np.int32)
    np.cumsum(n_spans, out=offsets[1:])
    flat = [s for r in results for s in r.spans]
    starts = pa.array([s for s, _ in flat], pa.int32())
    ends = pa.array([e for _, e in flat], pa.int32())
    spans = pa.ListArray.from_arrays(
        pa.array(offsets), pa.StructArray.from_arrays([starts, ends], ["start", "end"])
    )
    cols = {
        "conv_id": pa.array(list(conv_id), pa.string()),
        "turn_idx": pa.array(np.asarray(turn_idx, np.int32)),
        "kind": pa.array([r.kind for r in results], pa.string()),
        "extracted_text": pa.array([r.extracted_text for r in results], pa.string()),
        "spans": spans,
    }
    for name in ("blocks_kept", "blocks_dropped", "bytes_in", "bytes_out"):
        cols[name] = pa.array(
            [getattr(r, name) for r in results], OUTPUT_ARROW_SCHEMA.field(name).type
        )
    return pa.table(cols, schema=OUTPUT_ARROW_SCHEMA)


def read_output(output_dir: str, shards: list[int] | None = None) -> pa.Table:
    """The job's output (every ``shard=K`` directory, or only
    ``shards``), in the oracle's schema and order."""
    names = sorted(n for n in os.listdir(output_dir) if n.startswith("shard="))
    if shards is not None:
        names = [n for n in names if int(n.split("=", 1)[1]) in shards]
    parts = [
        pq.read_table(os.path.join(output_dir, n), columns=OUTPUT_ARROW_SCHEMA.names)
        .replace_schema_metadata(None)
        .cast(OUTPUT_ARROW_SCHEMA)
        for n in names
    ]
    table = pa.concat_tables(parts) if parts else OUTPUT_ARROW_SCHEMA.empty_table()
    return table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])


def output_matches(output: pa.Table, expected: pa.Table) -> bool:
    """Turn-by-turn equality: catches lost, duplicated or altered turns."""
    return output.num_rows == expected.num_rows and output.equals(expected)


def table_digest(table: pa.Table) -> str:
    """sha256 over the rows of an output table, one JSON line each."""
    h = hashlib.sha256()
    for row in table.to_pylist():
        row["spans"] = [[s["start"], s["end"]] for s in row["spans"]]
        h.update(json.dumps(list(row.values()), ensure_ascii=False).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def digest_matches(workload: str, table: pa.Table) -> bool:
    """True when ``table`` has the digest committed for ``workload``."""
    with open(DIGEST_FILE) as f:
        return table_digest(table) == json.load(f)[workload]
