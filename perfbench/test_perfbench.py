"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import pyarrow as pa  # noqa: E402

import procstat  # noqa: E402
import workloads  # noqa: E402

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def _burn_here(seconds: float) -> None:
    t = time.process_time()
    while time.process_time() - t < seconds:
        pass


def test_tree_cpu_counts_own_and_reaped_child_burn():
    before = procstat.tree_cpu_s()
    _burn_here(0.4)
    subprocess.run([sys.executable, "-c", _BURN.format(s=0.6)], check=True)
    spent = procstat.cpu_delta_s(before, procstat.tree_cpu_s())
    # 1.0 s burned; interpreter start-up of the child adds a little
    assert 0.95 <= spent <= 1.6, spent


def test_tree_cpu_counts_live_child_burn():
    child = subprocess.Popen(
        [sys.executable, "-c", _BURN.format(s=0.5) + "time.sleep(30)\n"]
    )
    try:
        before = procstat.tree_cpu_s()
        assert child.pid in before
        deadline = time.monotonic() + 20
        while procstat.proc_cpu_s(child.pid) < 0.5 and time.monotonic() < deadline:
            time.sleep(0.05)
        spent = procstat.cpu_delta_s(before, procstat.tree_cpu_s())
        assert 0.3 <= spent <= 1.2, spent
    finally:
        child.kill()
        child.wait(timeout=10)


def test_py_worker_peak_rss_sees_only_workers():
    # argv carries the marker a Spark Python worker's command line has
    code = "import time\nb = bytearray(80 << 20)\nb[::4096] = b'x' * len(b[::4096])\ntime.sleep(30)\n"
    worker = subprocess.Popen([sys.executable, "-c", code, "pyspark.daemon"])
    other = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.monotonic() + 20
        while procstat.py_worker_peak_rss_mb() < 80 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert procstat.is_python_worker(worker.pid)
        assert not procstat.is_python_worker(other.pid)
        assert 80 <= procstat.py_worker_peak_rss_mb() < 200
    finally:
        for p in (worker, other):
            p.kill()
            p.wait(timeout=10)
    assert procstat.py_worker_peak_rss_mb() == 0.0


def _digest_table(workload: str) -> pa.Table:
    return workloads.oracle(workloads.gen_digest_input(workload))


def test_committed_digests_match_the_core():
    for workload in ("mixed", "chat_skew"):
        assert workloads.digest_matches(workload, _digest_table(workload))


def test_one_byte_output_change_trips_digest_and_oracle_checks():
    table = _digest_table("chat_skew")
    text = table.column("extracted_text").to_pylist()
    text[123] = text[123][:-1] + chr(ord(text[123][-1]) ^ 1)  # one byte differs
    i = table.schema.get_field_index("extracted_text")
    changed = table.set_column(i, "extracted_text", pa.array(text, pa.string()))
    assert not workloads.digest_matches("chat_skew", changed)
    assert not workloads.output_matches(changed, table)


def test_oracle_check_catches_lost_and_duplicated_turns():
    table = _digest_table("chat_skew")
    assert workloads.output_matches(table, table)
    assert not workloads.output_matches(table.slice(1), table)
    dup = pa.concat_tables([table, table.slice(0, 1)]).sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")]
    )
    assert not workloads.output_matches(dup, table)


def test_generators_are_deterministic_per_seed():
    a = workloads.gen_chat_skew(7, 20_000)
    b = workloads.gen_chat_skew(7, 20_000)
    c = workloads.gen_chat_skew(8, 20_000)
    assert a.equals(b) and not a.equals(c)
    assert len(a) == 20_000
    # each conversation numbers its turns 0..n-1
    sizes = a.groupby("conv_id")["turn_idx"].agg(["min", "max", "count"])
    assert (sizes["min"] == 0).all() and (sizes["max"] + 1 == sizes["count"]).all()


def test_chat_skew_heavy_share():
    df = workloads.gen_chat_skew(1)
    n_heavy, heavy_turns = workloads.heavy_convs(df)
    assert n_heavy == len(workloads.CHAT_HEAVY_SHARES)
    assert 0.25 <= heavy_turns / len(df) <= 0.35
    assert (df["text"].str.count("\n") == 0).all()
