"""Raw log tail source: byte-offset incremental framing of growing files.

Ports the reference's end-to-end semantics (supervisor_test.go:12-52,
file_reader_test.go golden numbers) to the Spark tail source.
"""

import pytest

from scones.lineage import LineageStore
from scones.tailsource import (
    plan_tail_work,
    read_tail,
    run_tail_snapshot,
    split_work_units,
)

N_SINKS = 2


def _snap(spark, tmp_path, **kw):
    return run_tail_snapshot(
        spark,
        str(tmp_path / "logs" / "*.log"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_sinks=N_SINKS,
        **kw,
    )


def _lines(spark, tmp_path):
    df = spark.read.option("basePath", str(tmp_path / "out")).parquet(
        str(tmp_path / "out") + "/snapshot_id=*"
    )
    return sorted(
        (r.src_file.rsplit("/", 1)[-1], bytes(r.line), r.hwm)
        for r in df.select("src_file", "line", "hwm")
        .where("line IS NOT NULL")  # drop offset-advance sentinels
        .collect()
    )


def test_basic_log_golden(spark, tmp_path):
    (tmp_path / "logs").mkdir()
    (tmp_path / "logs" / "basic.log").write_bytes(b"line1\nline2\n")
    s = _snap(spark, tmp_path)
    assert s["lines"] == 2
    assert _lines(spark, tmp_path) == [
        ("basic.log", b"line1", 6),
        ("basic.log", b"line2", 12),
    ]
    # fully consumed → skipped (size <= hwm, supervisor.go:308-313)
    assert _snap(spark, tmp_path)["snapshot_id"] is None


def test_growing_file_resumes_mid_file(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "app.log"
    f.write_bytes(b"line1\nline2\npartial")
    s1 = _snap(spark, tmp_path)
    assert s1["lines"] == 2

    # file GROWS: the partial line completes + a CRLF line + new partial
    with open(f, "ab") as fh:
        fh.write(b" done\nwindows\r\nnew partial")
    s2 = _snap(spark, tmp_path)
    assert s2["lines"] == 2
    assert _lines(spark, tmp_path) == [
        ("app.log", b"line1", 6),
        ("app.log", b"line2", 12),
        ("app.log", b"partial done", 25),
        ("app.log", b"windows", 34),
    ]
    # the trailing partial is still unconsumed → file stays planned
    store = LineageStore(str(tmp_path / "ckpt"))
    assert plan_tail_work(store, str(logs / "*.log")) == [(str(f), 34)]


def test_partial_line_only_growth_is_an_idle_poll(spark, tmp_path):
    """New bytes holding only a partial line frame nothing: the snapshot
    commits nothing, writes no run record and leaves no output, instead
    of failing to read back an empty write (which a daemon would retry
    for as long as the writer holds the partial line)."""
    from scones.statsserver import read_run_metrics

    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "p.log"
    f.write_bytes(b"line1\npartial")
    s1 = _snap(spark, tmp_path)
    assert s1["lines"] == s1["rows"] == 1
    ckpt = str(tmp_path / "ckpt")
    assert len(read_run_metrics(ckpt)) == 1  # tail runs leave a run record

    assert _snap(spark, tmp_path)["snapshot_id"] is None
    assert LineageStore(ckpt).committed_snapshots() == [1]
    assert len(read_run_metrics(ckpt)) == 1
    assert not (tmp_path / "out" / "snapshot_id=2").exists()

    with open(f, "ab") as fh:
        fh.write(b" done\n")
    s3 = _snap(spark, tmp_path)
    assert s3["snapshot_id"] == 2 and s3["lines"] == 1
    assert _lines(spark, tmp_path) == [
        ("p.log", b"line1", 6),
        ("p.log", b"partial done", 19),
    ]


def test_max_length_skip_but_advance(spark, tmp_path):
    (tmp_path / "logs").mkdir()
    (tmp_path / "logs" / "long.log").write_bytes(b"long line\nline2\n")
    s = _snap(spark, tmp_path, max_length=8)
    assert s["lines"] == 1
    # golden: position 16 after skipping the 10-byte long line
    assert _lines(spark, tmp_path) == [("long.log", b"line2", 16)]


def test_crash_between_write_and_commit_resumes_exactly(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.log").write_bytes(b"a1\na2\n")
    (logs / "b.log").write_bytes(b"b1\n")
    with pytest.raises(RuntimeError, match="injected crash"):
        _snap(spark, tmp_path, fail_before_commit=True)
    # nothing committed → full replan, same snapshot id, no dupes
    s = _snap(spark, tmp_path)
    assert s["snapshot_id"] == 1 and s["lines"] == 3
    got = _lines(spark, tmp_path)
    assert got == [
        ("a.log", b"a1", 3),
        ("a.log", b"a2", 6),
        ("b.log", b"b1", 3),
    ]


def test_ranged_read_scales_with_appended_bytes(spark, tmp_path):
    """The Seek contract (supervisor.go:315): a snapshot over a grown file
    reads only the appended bytes, never the whole file."""
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "big.log"
    big = b"x" * 99 + b"\n"
    f.write_bytes(big * 10_000)  # ~1 MB
    s1 = _snap(spark, tmp_path)
    assert s1["lines"] == 10_000
    assert s1["bytes_read"][str(f)] == 1_000_000

    with open(f, "ab") as fh:
        fh.write(b"tail line one\ntail line two\n")
    s2 = _snap(spark, tmp_path)
    assert s2["lines"] == 2
    # ranged read: 28 appended bytes cost 28 bytes of I/O, not 1 MB
    assert s2["bytes_read"][str(f)] == 28


def test_skipped_trailing_lines_advance_committed_offset(spark, tmp_path):
    """Over-long lines at the END of the new bytes must still advance the
    committed offset (the reference advances its BoltDB HWM past skipped
    lines) — otherwise the file is re-read and re-skipped forever."""
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "skip.log"
    f.write_bytes(b"ok\n" + b"very long skipped line\n")
    s1 = _snap(spark, tmp_path, max_length=8)
    assert s1["lines"] == 1
    store = LineageStore(str(tmp_path / "ckpt"))
    # committed offset covers the skipped line: file is fully consumed
    assert plan_tail_work(store, str(logs / "*.log")) == []
    assert _snap(spark, tmp_path, max_length=8)["snapshot_id"] is None


def test_all_skipped_snapshot_still_commits_offset(spark, tmp_path):
    """A snapshot whose new bytes are ALL over-long lines emits zero data
    rows but must still commit the advance (sentinel row)."""
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "allskip.log"
    f.write_bytes(b"both lines are way too long\nand this one also is\n")
    s1 = _snap(spark, tmp_path, max_length=8)
    assert s1["lines"] == 0 and s1["snapshot_id"] == 1
    assert _lines(spark, tmp_path) == []  # sentinels filtered from data
    assert plan_tail_work(
        LineageStore(str(tmp_path / "ckpt")), str(logs / "*.log")
    ) == []
    # new real line after the skipped region frames from the right offset
    with open(f, "ab") as fh:
        fh.write(b"short\n")
    s2 = _snap(spark, tmp_path, max_length=8)
    assert s2["lines"] == 1
    assert _lines(spark, tmp_path) == [("allskip.log", b"short", 55)]


def test_multiple_files_and_new_file_discovery(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "one.log").write_bytes(b"x\n" * 50)
    s1 = _snap(spark, tmp_path)
    assert s1["lines"] == 50
    (logs / "two.log").write_bytes(b"y\n" * 30)  # glob discovers it
    s2 = _snap(spark, tmp_path)
    assert s2["lines"] == 30 and s2["files"] == [str(logs / "two.log")]
    # routing is deterministic and covers both sinks
    df = spark.read.option("basePath", str(tmp_path / "out")).parquet(
        str(tmp_path / "out") + "/snapshot_id=*"
    )
    per_sink = {r.sink_id: r.n for r in df.groupBy("sink_id").count().withColumnRenamed("count", "n").collect()}
    assert sum(per_sink.values()) == 80 and len(per_sink) == N_SINKS


def test_range_split_framing_equals_single_unit(spark, tmp_path):
    """Giant-file range splitting must be byte-exact vs one-unit framing:
    same lines, same hwms, same committed offset — across CRLF lines,
    skipped over-long lines, boundary-straddling lines, partial tail."""
    import random

    rng = random.Random(13)
    parts = []
    for i in range(400):
        kind = rng.randrange(4)
        if kind == 0:
            parts.append(f"line {i}\n".encode())
        elif kind == 1:
            parts.append(f"crlf line {i}\r\n".encode())
        elif kind == 2:
            parts.append(b"x" * rng.randrange(20, 60) + b"\n")  # skippable
        else:
            parts.append(f"{i}:".encode() + b"y" * rng.randrange(0, 15) + b"\n")
    blob = b"".join(parts) + b"partial tail without newline"

    def run_variant(tag, max_range_bytes):
        d = tmp_path / tag
        (d / "logs").mkdir(parents=True)
        (d / "logs" / "big.log").write_bytes(blob)
        s = run_tail_snapshot(
            spark,
            str(d / "logs" / "*.log"),
            str(d / "out"),
            str(d / "ckpt"),
            n_sinks=N_SINKS,
            max_length=16,
            max_range_bytes=max_range_bytes,
        )
        df = spark.read.parquet(str(d / "out") + "/snapshot_id=*")
        lines = sorted(
            (bytes(r.line), r.hwm)
            for r in df.select("line", "hwm").where("line IS NOT NULL").collect()
        )
        store = LineageStore(str(d / "ckpt"))
        committed = max(
            r["offset_end"] for r in store.read_all().to_pylist()
        )
        return s["lines"], lines, committed

    base = run_variant("single", 0)
    for mrb in (64, 257, 1024):
        got = run_variant(f"ranged{mrb}", mrb)
        assert got == base, f"range split {mrb} diverged"

    # more units than cores: several units share a task, with no shuffle
    path = str(tmp_path / "single" / "logs" / "big.log")
    assert len(split_work_units([(path, 0)], 64)) > spark.sparkContext.defaultParallelism
    plan = read_tail(spark, [(path, 0)], max_length=16, max_range_bytes=64)
    assert "Exchange" not in plan._jdf.queryExecution().executedPlan().toString()


def test_range_split_parallelizes_one_file(spark, tmp_path):
    """A single file splits into multiple work units."""
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "wide.log"
    f.write_bytes(b"z" * 9 + b"\n")
    units = split_work_units([(str(f), 0)], max_range_bytes=3)
    assert len(units) == 4
    assert units[0] == (str(f), 0, 3, True)
    assert units[-1] == (str(f), 9, 10, False)


def test_range_split_bytes_read_sums_all_units(spark, tmp_path):
    """With range splitting, summary bytes_read must be the TOTAL I/O
    across a file's units (max-per-unit → sum-per-file), not one unit's
    max — two equal-sized middle units read identical byte counts and a
    bare per-file max silently under-reported (round-2 advice)."""
    logs = tmp_path / "logs"
    logs.mkdir()
    f = logs / "wide.log"
    line = b"q" * 9 + b"\n"
    f.write_bytes(line * 100)  # 1000 bytes
    s = run_tail_snapshot(
        spark,
        str(logs / "*.log"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_sinks=N_SINKS,
        max_range_bytes=250,  # 4 units of 250 bytes each
    )
    assert s["lines"] == 100
    # every unit reads its 250-byte range; only boundary sync/straddle
    # overshoot may add a few bytes — never less than the file size and
    # never a single unit's 250
    assert s["bytes_read"][str(f)] >= 1000
    assert s["bytes_read"][str(f)] < 1100
