"""The output checks catch a wrong result, and each one counts as a failed op.

    python3 -m pytest -q perfbench/test_checks.py

Needs no Spark session: the outputs are written here with pyarrow in the
layout the program writes (``snapshot_id=N/sink_id=i/*.parquet``).
"""

from __future__ import annotations

import os
import sys
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from checks import Ledger, check_tail_offsets, compare_rows  # noqa: E402
from workloads import N_SINKS, CurationQueries, DocsSnapshot, TailIncremental  # noqa: E402

DOCS = {f"https://site{i}.example.io/c1/page/{i}": f"line {i}\n".encode() for i in range(40)}


def write_snapshot(snap_dir: str, docs: dict[str, bytes], sink_of) -> None:
    by_sink: dict[int, list[tuple[str, bytes]]] = {}
    for url, ext in docs.items():
        by_sink.setdefault(sink_of(url), []).append((url, ext))
    for sink, rows in by_sink.items():
        d = os.path.join(snap_dir, f"sink_id={sink}")
        os.makedirs(d, exist_ok=True)
        table = pa.table(
            {"url": [u for u, _ in rows], "extracted": pa.array([e for _, e in rows], pa.binary())}
        )
        pq.write_table(table, os.path.join(d, "part-0.parquet"))


def crc_sink(url: str) -> int:
    return zlib.crc32(url.encode()) % N_SINKS


def docs_workload(tmp) -> DocsSnapshot:
    wl = DocsSnapshot(str(tmp), seed=1)
    wl.expected = dict(DOCS)
    wl.n_docs = len(DOCS)
    wl.payload_bytes = sum(len(v) for v in DOCS.values())
    return wl


def run_ops(wl, results, final=None) -> Ledger:
    """Account ops the way worker.py does: each op's own check, then the
    once-per-run check of the last op's output."""
    ledger = Ledger()
    for r in results:
        ledger.record(wl.check_op(r))
    if final is not None:
        ledger.fail_checked(wl.final_check(final))
    return ledger


def summary(wl, snap_dir):
    return {"rows": wl.n_docs, "payload_bytes": wl.payload_bytes, "output": snap_dir}


def test_docs_correct_output_passes(tmp_path):
    wl = docs_workload(tmp_path)
    snap = str(tmp_path / "snapshot_id=0")
    write_snapshot(snap, DOCS, crc_sink)
    ledger = run_ops(wl, [summary(wl, snap)] * 3, final=summary(wl, snap))
    assert (ledger.attempted, ledger.failed) == (3, 0), ledger.reasons


def test_row_in_wrong_sink_fails_an_op(tmp_path):
    wl = docs_workload(tmp_path)
    snap = str(tmp_path / "snapshot_id=0")
    moved = next(iter(DOCS))
    write_snapshot(
        snap, DOCS, lambda u: (crc_sink(u) + 1) % N_SINKS if u == moved else crc_sink(u)
    )
    ledger = run_ops(wl, [summary(wl, snap)] * 3, final=summary(wl, snap))
    assert (ledger.attempted, ledger.failed) == (3, 1)
    assert any("in sink" in r for r in ledger.reasons)


def test_changed_extracted_byte_fails_an_op(tmp_path):
    wl = docs_workload(tmp_path)
    snap = str(tmp_path / "snapshot_id=0")
    bad = dict(DOCS)
    url = sorted(bad)[7]
    bad[url] = bytes([bad[url][0] ^ 1]) + bad[url][1:]
    write_snapshot(snap, bad, crc_sink)
    ledger = run_ops(wl, [summary(wl, snap)], final=summary(wl, snap))
    assert (ledger.attempted, ledger.failed) == (1, 1)
    assert any("extracted bytes differ" in r for r in ledger.reasons)


def test_wrong_summary_rows_fails_that_op(tmp_path):
    wl = docs_workload(tmp_path)
    good = summary(wl, "")
    ledger = run_ops(wl, [good, dict(good, rows=wl.n_docs - 1), good])
    assert (ledger.attempted, ledger.failed) == (3, 1)


def test_missing_tail_line_fails_an_op(tmp_path):
    wl = TailIncremental(str(tmp_path), seed=1)
    per_op = wl.n_logs * wl.lines_per_append
    ledger = run_ops(wl, [{"lines": per_op}, {"lines": per_op - 1}])
    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert any("committed lines" in r for r in ledger.reasons)


def test_tail_offsets_short_of_file_size_fail_an_op(tmp_path):
    wl = TailIncremental(str(tmp_path), seed=1)
    wl.prepare()
    wl.before_op(0)
    sizes = {p: os.path.getsize(p) for p in wl.paths}
    rows = [
        {"src_file": p, "offset_end": sizes[p], "row_count": wl.lines_per_append}
        for p in wl.paths
    ]
    assert check_tail_offsets(rows, sizes, wl.appended_lines) == []
    # one file's last line never committed: its offset and count fall short
    rows[-1] = dict(rows[-1], offset_end=sizes[wl.paths[-1]] - 50, row_count=wl.lines_per_append - 1)
    ledger = Ledger()
    ledger.record([])
    ledger.fail_checked(check_tail_offsets(rows, sizes, wl.appended_lines))
    assert (ledger.attempted, ledger.failed) == (1, 1)
    assert any("offset_end" in r for r in ledger.reasons)


def test_wrong_query_row_count_fails_that_op(tmp_path):
    wl = CurationQueries(str(tmp_path), seed=1)
    wl.expected = {name: 10 + i for i, name in enumerate(wl.pass_names)}
    good = {"counts": dict(wl.expected)}
    bad = {"counts": dict(wl.expected, tpch_q1=wl.expected["tpch_q1"] + 1)}
    ledger = run_ops(wl, [good, bad, good])
    assert (ledger.attempted, ledger.failed) == (3, 1)
    assert any("tpch_q1" in r for r in ledger.reasons)


def test_oracle_comparison_catches_a_changed_value():
    want = [{"k": "a", "n": 1, "x": 0.5}, {"k": "b", "n": 2, "x": 1.25}]
    assert compare_rows("q", list(reversed(want)), want) == []
    assert compare_rows("q", [want[0], dict(want[1], n=3)], want)
    assert compare_rows("q", want[:1], want)


def test_benchmark_json_names_the_metrics_the_runs_emit():
    import json

    import worker

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = worker.e2e_metrics(1.0, 1.0, [1.0], [1.0], 1)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == worker.PER_LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(worker.WORKLOADS)
