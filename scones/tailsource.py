"""Raw log-file tail source: byte-offset incremental reads of GROWING files.

This is the closest structural parity with the reference's actual loop:
``filepath.Glob`` discovery (supervisor.go:253-282), skip files whose
``size <= high-water mark`` (supervisor.go:308-313), ``Seek(hwm)`` and
frame forward (file_reader.go:57-93), record = {line, host, file, offset}
(file_reader.go:105-120), commit new offsets only after the sinks accept
the batch (supervisor.go:210-249).

Spark-side: the driver plans (file, start, end) work units from the
lineage store and the file sizes observed at plan time; the mapInArrow
kernel OPENS AND SEEKS each file and reads only ``end - start`` bytes —
the reference's ``Seek(hwm)`` contract (supervisor.go:315).  A 10 GB
log that grew by 2 MB costs 2 MB of I/O per snapshot, not 10 GB (the
round-1 ``binaryFile`` implementation re-read the whole file; the
bytes-read invariant is pinned in tests/test_tailsource.py).  Framing
keeps the exact reference semantics: CRLF trim, skip-but-advance,
partial-line rule.

Offset semantics (matches the reference's BoltDB HWM): the committed
``offset_end`` is the framed-byte position after the last COMPLETE line,
including lines skipped by max_length — a file whose new bytes are all
over-long lines still advances, so it is not re-read every snapshot.
Every emitted row carries ``frame_end`` (that position) and
``bytes_read`` (actual ranged-read cost); a file that framed zero
emittable lines but still advanced produces one sentinel row
(line IS NULL) so the advance can be committed.  Data readers filter
``line IS NOT NULL``.

Scale note: one work unit = one sequential reader, as in the reference,
which reads each file with a single reader.  Units are spread over
min(units, defaultParallelism) tasks with no shuffle, so a task frames
several units in turn and parallelism comes from the file count up to one
task per core.  Giant single files are split into multiple
(file, start, end) ranges aligned to newline scans (``max_range_bytes``).
"""

from __future__ import annotations

import glob as globmod
import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pyworker
from .config import PipelineConfig
from .enrich import with_static_fields
from .lineage import LineageStore

LINE_SCHEMA = (
    "src_file string, line binary, hwm bigint, line_no bigint, "
    "frame_end bigint, bytes_read bigint, unit_start bigint"
)


def plan_tail_work(store: LineageStore, input_glob: str) -> list[tuple[str, int]]:
    """(file, start_offset) units: new files start at 0; grown files at
    their committed high-water mark; fully-consumed files are skipped
    (size <= hwm — supervisor.go:308-313)."""
    lineage = store.read_all().to_pylist()
    hwm: dict[str, int] = {}
    for r in lineage:
        hwm[r["src_file"]] = max(hwm.get(r["src_file"], 0), r["offset_end"])
    work = []
    for path in sorted(globmod.glob(input_glob)):
        start = hwm.get(path, 0)
        if os.path.getsize(path) > start:
            work.append((path, start))
    return work


def split_work_units(
    work: list[tuple[str, int]], max_range_bytes: int = 0
) -> list[tuple[str, int, int, bool]]:
    """(file, start, end, aligned) units; giant files split into ranges.

    With ``max_range_bytes`` > 0 a single multi-GB file parallelizes
    across tasks (the reference is strictly one reader per file).  Line
    ownership at boundaries follows the TextInputFormat rule: a line
    belongs to the unit containing its FIRST byte; a non-aligned unit
    scans forward past its first newline, and every unit reads past its
    end to finish its last straddling line — byte-exact equivalence with
    single-unit framing is pinned by tests/test_tailsource.py.

    ``aligned`` = start is a known line boundary (the committed hwm /
    file start); non-aligned units must newline-sync first.
    """
    units: list[tuple[str, int, int, bool]] = []
    for path, start in work:
        end = os.path.getsize(path)
        if max_range_bytes <= 0 or end - start <= max_range_bytes:
            units.append((path, start, end, True))
            continue
        pos = start
        first = True
        while pos < end:
            units.append((path, pos, min(pos + max_range_bytes, end), first))
            pos += max_range_bytes
            first = False
    return units


def read_tail(
    spark: SparkSession,
    work: list[tuple[str, int]],
    max_length: int = 0,
    max_range_bytes: int = 0,
) -> DataFrame:
    """One row per newly-framed line across all work units, plus one
    sentinel row (line IS NULL) per unit whose frame advanced without
    emitting lines.

    The end offset is pinned at plan time (current size), so a file
    growing mid-job still yields a consistent snapshot; bytes past
    ``end`` are next snapshot's work.  ``max_range_bytes`` > 0 splits
    giant files into parallel units (see :func:`split_work_units` for
    the boundary-ownership rule).
    """
    units = split_work_units(work, max_range_bytes)

    def frame_unit(
        path: str, start: int, end: int, aligned: bool
    ) -> pa.RecordBatch | None:
        # the Seek contract: read ONLY the planned byte range
        # (+1 sync byte for non-aligned units, + overshoot to
        # finish the straddling last owned line)
        read_from = start if aligned else start - 1
        with open(path, "rb") as fh:
            fh.seek(read_from)
            buf = fh.read(end - read_from)
            # extend until the newline that terminates the line
            # containing byte end-1 (the straddler) is in view
            while buf.find(b"\n", max(end - read_from - 1, 0)) < 0:
                more = fh.read(1 << 20)
                if not more:
                    break
                buf += more
        bytes_read = len(buf)
        cursor = 0
        if not aligned:
            # first owned line starts after the first newline at
            # abs pos >= start-1 (TextInputFormat ownership rule)
            nl0 = buf.find(b"\n")
            if nl0 < 0 or read_from + nl0 + 1 >= end:
                return None  # no line starts inside this unit
            cursor = nl0 + 1
        pos = read_from + cursor  # absolute framed position
        unit_start = pos
        out_l: list[bytes | None] = []
        out_h: list[int] = []
        while read_from + cursor < end:
            nl = buf.find(b"\n", cursor)
            if nl < 0:
                break  # partial tail at EOF: not emitted
            raw_len = nl + 1 - cursor
            pos += raw_len
            if not (max_length > 0 and raw_len > max_length):
                out_l.append(buf[cursor:nl].rstrip(b"\r\n"))
                out_h.append(pos)
            cursor = nl + 1
        frame_end = pos  # after last complete owned line
        out_n = list(range(1, len(out_l) + 1))
        if not out_l:
            if frame_end == unit_start:
                return None  # nothing owned/complete in this unit
            # all-owned-lines-skipped: sentinel row carries the
            # advance so the offset still commits
            out_l, out_h, out_n = [None], [unit_start], [0]
        n = len(out_l)
        # unit_start (the planned start) is the per-unit key for exact I/O
        # accounting when range splitting is on: two units of one file can
        # read identical byte counts, so bytes_read alone can't identify a
        # unit (round-2 advice)
        return pa.RecordBatch.from_arrays(
            [
                pa.array([path] * n, pa.string()),
                pa.array(out_l, pa.binary()),
                pa.array(out_h, pa.int64()),
                pa.array(out_n, pa.int64()),
                pa.array([frame_end] * n, pa.int64()),
                pa.array([bytes_read] * n, pa.int64()),
                pa.array([start] * n, pa.int64()),
            ],
            [
                "src_file",
                "line",
                "hwm",
                "line_no",
                "frame_end",
                "bytes_read",
                "unit_start",
            ],
        )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pyworker.install()
        # one output batch per unit: a task frames several units, and
        # Python memory stays bounded by one unit's bytes
        for batch in batches:
            for unit in zip(
                *(
                    batch.column(c).to_pylist()
                    for c in ("src_file", "start", "end", "aligned")
                )
            ):
                out = frame_unit(*unit)
                if out is not None:
                    yield out

    # one task per core, not per unit, and no Exchange: the local rows are
    # sliced over defaultParallelism partitions, and the coalesce drops the
    # empty ones (each would still start a Python task) when there are
    # fewer units than cores.  The fixed per-task cost is paid once per core.
    n_tasks = max(min(len(units), spark.sparkContext.defaultParallelism), 1)
    plan_df = spark.createDataFrame(
        units, "src_file string, start bigint, end bigint, aligned boolean"
    ).coalesce(n_tasks)
    return plan_df.mapInArrow(run, LINE_SCHEMA)


class TailSource:
    """The tail mode's part of the snapshot driver (scones.pipeline):
    plan byte ranges past each file's high-water mark, frame them,
    decorate (host, line_str) and route by crc32(file@hwm), then audit
    per-file offsets from the written output.

    The route key (src_file, hwm) is unique per line and a pure function
    of content+provenance — deterministic under retries, unlike the
    reference's competing-consumer chunk pickup."""

    refused = {
        "host_meta_path": "log lines carry no url to join on",
        "spread_partitions": "tail units are written without a shuffle",
        "dedup_index": "tail extracts no documents",
        "lm_model_path": "tail extracts no documents",
    }
    reserved = (
        "src_file", "bytes_read", "sink_id", "hwm", "line_no", "frame_end", "unit_start"
    )

    def __init__(self, max_range_bytes: int = 0):
        self.max_range_bytes = max_range_bytes

    def plan(self, store: LineageStore, cfg: PipelineConfig) -> list[tuple[str, int]]:
        return plan_tail_work(store, cfg.input_glob)

    def frame(self, spark: SparkSession, cfg: PipelineConfig, work: list[tuple[str, int]]):
        lines = read_tail(
            spark, work, max_length=cfg.max_length, max_range_bytes=self.max_range_bytes
        )
        routed = lines.select(
            "src_file",
            "line",
            F.col("line").cast("string").alias("line_str"),
            "hwm",
            "line_no",
            "frame_end",
            "bytes_read",
            "unit_start",
            F.lit(os.uname().nodename).alias("host"),
            F.pmod(
                F.crc32(F.encode(F.concat("src_file", F.lit("@"), F.col("hwm").cast("string")), "utf-8")),
                F.lit(cfg.n_sinks),
            ).cast("int").alias("sink_id"),
        )
        # a static host overrides the hostname, as in the reference
        return with_static_fields(routed, cfg.static_fields), None

    def audit(self, written, snapshot_id: int, work: list[tuple[str, int]], _state):
        if written is None:
            # new bytes framed nothing complete (only a partial tail): no
            # lineage row, replanned next snapshot (the ranged read makes
            # that re-plan cost just the partial bytes)
            return [], {}
        # exact I/O accounting with range splitting: bytes_read is constant
        # within a unit, so max-per-unit → sum-per-file is the total bytes
        # the snapshot actually read from that file (round-2 advice: a bare
        # per-file max reported one unit's cost when max_range_bytes > 0)
        agg = (
            written.groupBy("src_file", "unit_start")
            .agg(
                # sentinels (line_no = 0) don't count; line_no > 0 keeps the
                # read-back off the line payload
                F.count(F.when(F.col("line_no") > 0, 1)).alias("n"),
                F.max("frame_end").alias("frame_end"),
                F.max("bytes_read").alias("bytes_read"),
            )
            .groupBy("src_file")
            .agg(
                F.sum("n").alias("n"),
                F.max("frame_end").alias("frame_end"),
                F.sum("bytes_read").alias("bytes_read"),
            )
            .collect()
        )
        starts = dict(work)
        rows = [
            {
                "snapshot_id": snapshot_id,
                "src_file": r["src_file"],
                "offset_start": starts.get(r["src_file"], 0),
                "offset_end": int(r["frame_end"]),
                "row_count": int(r["n"]),
            }
            for r in agg
        ]
        lines = int(sum(r["row_count"] for r in rows))
        return rows, {
            "lines": lines,
            "rows": lines,
            "files": [f for f, _ in work],
            "bytes_read": {r["src_file"]: int(r["bytes_read"]) for r in agg},
        }


def run_tail_snapshot(
    spark: SparkSession,
    input_glob: str,
    output_dir: str,
    checkpoint_dir: str,
    n_sinks: int = 2,
    max_length: int = 0,
    max_range_bytes: int = 0,
    fail_before_commit: bool = False,
) -> dict:
    """One incremental tail snapshot: frame new bytes → decorate → route
    → write → commit offsets (``scones.pipeline.run_snapshot`` in tail
    mode, plus the ``max_range_bytes`` range split)."""
    from .pipeline import drive_snapshot

    cfg = PipelineConfig(
        input_glob, output_dir, checkpoint_dir,
        n_sinks=n_sinks, max_length=max_length, mode="tail",
    )
    return drive_snapshot(spark, cfg, TailSource(max_range_bytes), fail_before_commit)
