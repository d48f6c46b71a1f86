"""Vectorized framing/extraction over ``html: binary`` columns.

This is the Spark-native replacement for the reference's line-framing loop
(/root/reference/file_reader.go:57-93): split raw bytes on ``\\n``, advance
the byte position by the raw line length, skip-but-advance over-long lines
(:74-77), strip trailing CR/LF from the payload (:80), never emit a
trailing partial line.  Semantics are pinned byte-for-byte against
``scones.oracle`` by tests/test_framing_golden.py and tests/test_extract.py.

Implementation: ``DataFrame.mapInArrow`` — data moves JVM→Python as Arrow
record batches; the kernel runs C-speed ``bytes`` operations per document
(split / join / one regex sub), no per-row Python UDF registration and no
per-line Python loop on the fast path (max_length == 0).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import pyworker

# Trailing-\r-before-\n collapses to \n: equivalent to per-line
# bytes.TrimRight(line, "\r\n") after splitting on \n (file_reader.go:80).
_CRLF = re.compile(rb"\r+\n")

EXTRACT_COLS = "extracted binary, n_lines bigint, bytes_read bigint, n_skipped bigint"


class _OffsetOverflow(Exception):
    """Extracted batch would exceed int32 Arrow binary offsets (>2 GiB)."""


# Worker-process-global kernel choice (survives across tasks on a reused
# Python worker): None = not yet calibrated, else bool(use_vectorized).
_KERNEL_CHOICE: dict[str, bool] = {}


def _frame_doc(data: bytes, max_length: int) -> tuple[bytes, int, int, int]:
    """Frame one document -> (text, n_lines, bytes_read, n_skipped).

    Fast path (max_length == 0): no per-line work at all — the framed
    region is everything up to the last newline, and per-line CR/LF
    trimming collapses to one regex sub over the region (every line
    boundary is a ``\\n``, so trailing ``\\r+`` before it is exactly the
    per-line TrimRight), plus an rstrip for the region's final line.
    """
    if max_length <= 0:
        end = data.rfind(b"\n") + 1
        if end == 0:
            return b"", 0, 0, 0
        n_lines = data.count(b"\n", 0, end)
        text = _CRLF.sub(b"\n", data[: end - 1]).rstrip(b"\r")
        return text, n_lines, end, 0
    parts = data.split(b"\n")
    tail = parts.pop()  # partial trailing line: not emitted, not counted
    bytes_read = len(data) - len(tail)
    kept = [p for p in parts if len(p) + 1 <= max_length]
    n_skipped = len(parts) - len(kept)
    text = _CRLF.sub(b"\n", b"\n".join(kept)).rstrip(b"\r")
    return text, len(kept), bytes_read, n_skipped


def _frame_batch_vectorized(
    arr: pa.Array,
) -> tuple[pa.Array, np.ndarray, np.ndarray]:
    """Vectorized framing of a whole Arrow binary column (max_length=0).

    Pure numpy over the Arrow buffers — no per-document Python objects:
      * region of doc i = its bytes up to (incl.) the last newline;
      * extracted = region minus its final ``\\n`` minus every ``\\r``-run
        immediately preceding a ``\\n`` (== per-line TrimRight of CR/LF,
        file_reader.go:80);
      * bytes_read = region length; n_lines = newline count in region.
    Returns (extracted BinaryArray, n_lines int64, bytes_read int64).
    """
    if arr.null_count:
        arr = pc.fill_null(arr, b"")
    arr = pc.cast(arr, pa.large_binary())
    n = len(arr)
    offs_all = np.frombuffer(arr.buffers()[1], dtype=np.int64)
    offs = offs_all[arr.offset : arr.offset + n + 1]
    base = int(offs[0])
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[base : int(offs[-1])]
    offs = (offs - base).astype(np.int64)
    total = data.shape[0]
    if total == 0:
        empty = pa.array([b""] * n, pa.binary())
        z = np.zeros(n, dtype=np.int64)
        return empty, z.copy(), z.copy()

    nl_pos = np.flatnonzero(data == 10)
    if nl_pos.size == 0:  # no complete line anywhere in the batch
        empty = pa.array([b""] * n, pa.binary())
        z = np.zeros(n, dtype=np.int64)
        return empty, z.copy(), z.copy()
    first_idx = np.searchsorted(nl_pos, offs[:-1], "left")
    last_idx = np.searchsorted(nl_pos, offs[1:], "left") - 1
    has_nl = last_idx >= first_idx
    region_end = np.where(has_nl, nl_pos[np.maximum(last_idx, 0)] + 1, offs[:-1])
    bytes_read = region_end - offs[:-1]
    n_lines = np.where(has_nl, last_idx - first_idx + 1, 0).astype(np.int64)

    # keep mask: region bytes, minus each region's final \n, minus
    # \r-runs whose next byte is \n
    delta = np.zeros(total + 1, dtype=np.int32)
    np.add.at(delta, offs[:-1], 1)
    np.add.at(delta, region_end, -1)
    keep = np.cumsum(delta[:-1]) > 0
    final_nl = region_end[has_nl] - 1
    keep[final_nl] = False
    cr_pos = np.flatnonzero(data == 13)
    if cr_pos.size:
        run_starts = np.flatnonzero(np.diff(cr_pos, prepend=-2) > 1)
        run_ends = np.append(run_starts[1:], cr_pos.size) - 1  # idx into cr_pos
        end_byte = cr_pos[run_ends] + 1  # byte after each run
        followed_by_nl = (end_byte < total) & (
            data[np.minimum(end_byte, total - 1)] == 10
        )
        if followed_by_nl.any():
            crdelta = np.zeros(total + 1, dtype=np.int32)
            np.add.at(crdelta, cr_pos[run_starts[followed_by_nl]], 1)
            np.add.at(crdelta, end_byte[followed_by_nl], -1)
            keep &= ~(np.cumsum(crdelta[:-1]) > 0)

    out_data = data[keep]
    csum = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(keep, out=csum[1:])
    out_offs = csum[np.concatenate(([offs[0]], region_end))]
    # docs with no newline produce empty output: region_end==start there,
    # so out_offs is already monotone and correct.
    if int(out_offs[-1]) > np.iinfo(np.int32).max:
        # int32 Arrow binary offsets would silently overflow on a >2 GiB
        # output batch — signal the caller to split the batch (a single
        # row can never overflow: one Arrow binary cell caps at 2 GiB).
        raise _OffsetOverflow
    out_offsets = out_offs.astype(np.int32)
    # Zero-copy output assembly: both numpy arrays are fresh contiguous
    # allocations (astype / boolean-mask indexing), so py_buffer wraps
    # them via the buffer protocol directly — the previous .tobytes()
    # duplicated the entire output payload (offsets + text bytes) once
    # more before Arrow ever saw it, a pure memcpy tax on a host whose
    # DRAM bandwidth is the flagship's bottleneck (A/B in
    # BENCH/BASELINE.md §Round 5; byte-identity pinned by the golden +
    # property framing tests either way).
    extracted = pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(out_offsets), pa.py_buffer(out_data)],
    )
    return extracted, n_lines, bytes_read.astype(np.int64)


def extract_documents(
    df: DataFrame, max_length: int = 0, html_col: str = "html"
) -> DataFrame:
    """Extract text from ``html_col`` (binary); passthrough all other columns.

    Adds: extracted(binary), extracted_str(string, utf-8 w/ replacement),
    n_lines, bytes_read (final high-water mark), n_skipped.
    The binary ``extracted`` column carries the byte-identical contract;
    ``extracted_str`` is the lossy-decoded convenience for SQL ops.
    """
    passthrough = [f for f in df.schema.fields if f.name != html_col]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in passthrough]
        + [EXTRACT_COLS]
    )
    pass_names = [f.name for f in passthrough]

    import os as _os
    import time as _time

    # Kernel choice: "1" forces the numpy mask kernel, "0" forces the
    # per-doc bytes-ops loop, unset/"auto" CALIBRATES once per Python
    # worker process — both kernels are exact, so the choice is purely
    # physical.  Calibration slices ~4k rows off the first batch for each
    # kernel (vectorized timed first so worker warmup noise penalizes IT,
    # not the loop) and keeps vectorized only if it wins by >25%; the
    # verdict is cached process-globally so reused workers never re-pay.
    # (A naive run-both-on-every-task's-first-batch scheme mispicked
    # under cold-cache noise and cost a measured 1.6-4x regression.)
    _mode = _os.environ.get("SCONES_VECTORIZED_FRAMING", "auto")
    _VEC_WIN_MARGIN = 1.25
    _CAL_ROWS = 4096

    def _loop_arrays(col: pa.Array) -> list[pa.Array]:
        # per-doc loop of C-speed bytes ops (split/rfind/sub):
        # single-pass over each doc, minimal auxiliary memory — often
        # faster than the numpy mask kernel on bandwidth-limited hosts
        # (the mask kernel touches ~10x the payload in auxiliary arrays).
        texts: list[bytes] = []
        n_lines_l: list[int] = []
        bytes_read_l: list[int] = []
        n_skipped_l: list[int] = []
        for data in col.to_pylist():
            t, nl, br, sk = _frame_doc(data or b"", max_length)
            texts.append(t)
            n_lines_l.append(nl)
            bytes_read_l.append(br)
            n_skipped_l.append(sk)
        return [
            pa.array(texts, pa.binary()),
            pa.array(n_lines_l, pa.int64()),
            pa.array(bytes_read_l, pa.int64()),
            pa.array(n_skipped_l, pa.int64()),
        ]

    def _vec_arrays(col: pa.Array) -> list[pa.Array]:
        # vectorized fast path: numpy over the Arrow buffers, zero
        # per-row Python objects; raises _OffsetOverflow on >2 GiB output
        extracted, n_lines, bytes_read = _frame_batch_vectorized(col)
        return [
            extracted,
            pa.array(n_lines, pa.int64()),
            pa.array(bytes_read, pa.int64()),
            pa.array(np.zeros(len(col), dtype=np.int64), pa.int64()),
        ]

    def _payload_bytes(col: pa.Array) -> int:
        return int(pc.sum(pc.binary_length(pc.fill_null(col, b""))).as_py() or 0)

    def _calibrate(batch: pa.RecordBatch) -> None:
        """Time both kernels on small disjoint slices of ``batch`` and
        cache the verdict process-globally (pure timing — the slices are
        re-processed by the winner, so no half-calibrated output).

        The slices are truly disjoint halves: overlapping them would time
        the loop kernel on cache-warm rows the vectorized kernel just
        touched (round-2 advice).  Batches too small to split (< 2 rows)
        skip calibration and default to the loop kernel — at that size
        kernel choice is irrelevant anyway.
        """
        n = batch.num_rows
        if n < 2:
            _KERNEL_CHOICE["use_vectorized"] = False
            return
        k = min(_CAL_ROWS, n // 2)
        vec_bps = 0.0
        t0 = _time.perf_counter()
        try:
            c = batch.slice(0, k).column(html_col)
            _vec_arrays(c)
            vec_bps = max(_payload_bytes(c), 1) / max(
                _time.perf_counter() - t0, 1e-9
            )
        except _OffsetOverflow:
            pass
        c2 = batch.slice(k, k).column(html_col)
        t1 = _time.perf_counter()
        _loop_arrays(c2)
        loop_bps = max(_payload_bytes(c2), 1) / max(
            _time.perf_counter() - t1, 1e-9
        )
        _KERNEL_CHOICE["use_vectorized"] = vec_bps > _VEC_WIN_MARGIN * loop_bps

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pyworker.install()
        if max_length > 0 or _mode == "0":
            use_vectorized = False
        elif _mode == "1":
            use_vectorized = True
        else:
            use_vectorized = _KERNEL_CHOICE.get("use_vectorized")

        def process(batch: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
            nonlocal use_vectorized
            col = batch.column(html_col)
            if use_vectorized is None:  # auto, first batch in this worker
                _calibrate(batch)
                use_vectorized = _KERNEL_CHOICE["use_vectorized"]
            if max_length > 0:
                ex_arrays = _loop_arrays(col)
            elif use_vectorized:
                try:
                    ex_arrays = _vec_arrays(col)
                except _OffsetOverflow:
                    if batch.num_rows > 1:
                        mid = batch.num_rows // 2
                        yield from process(batch.slice(0, mid))
                        yield from process(batch.slice(mid))
                        return
                    ex_arrays = _loop_arrays(col)  # single huge row
            else:
                ex_arrays = _loop_arrays(col)
            arrays = [batch.column(n) for n in pass_names] + ex_arrays
            yield pa.RecordBatch.from_arrays(
                arrays,
                pass_names + ["extracted", "n_lines", "bytes_read", "n_skipped"],
            )

        for batch in batches:
            yield from process(batch)

    out = df.mapInArrow(run, out_schema)
    # Lossy string view decoded JVM-side (keeps the Arrow transfer binary-only;
    # the byte-identical contract lives on `extracted`).
    return out.withColumn("extracted_str", F.col("extracted").cast("string"))


def explode_lines(
    df: DataFrame,
    max_length: int = 0,
    html_col: str = "html",
    key_col: str = "url",
) -> DataFrame:
    """One output row per emitted line with its high-water mark.

    Mirrors the reference's per-line FileData records (file_reader.go:79-85):
    (key, line: binary, hwm: byte position after the raw line).  Used by the
    golden framing tests; the pipeline itself uses :func:`extract_documents`.
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pyworker.install()
        for batch in batches:
            keys = batch.column(key_col).to_pylist()
            html = batch.column(html_col).to_pylist()
            out_keys: list = []
            out_lines: list[bytes] = []
            out_hwms: list[int] = []
            for key, data in zip(keys, html):
                data = data or b""
                pos = 0
                start = 0
                while True:
                    nl = data.find(b"\n", start)
                    if nl < 0:
                        break
                    raw_len = nl + 1 - start
                    pos += raw_len
                    if not (max_length > 0 and raw_len > max_length):
                        out_keys.append(key)
                        out_lines.append(data[start:nl].rstrip(b"\r\n"))
                        out_hwms.append(pos)
                    start = nl + 1
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_keys, pa.string()),
                    pa.array(out_lines, pa.binary()),
                    pa.array(out_hwms, pa.int64()),
                ],
                [key_col, "line", "hwm"],
            )

    return df.mapInArrow(run, f"{key_col} string, line binary, hwm bigint")
