"""Output checks.  Each returns a list of problems; empty means correct.

They read the program's outputs with pyarrow (no Spark), so a wrong
result is caught by an independent reader, and the benchmark's own test
can run them on hand-made outputs.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import math
import os
import zlib

import pyarrow.parquet as pq


class Ledger:
    """Attempted and failed ops of one run, with the first reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.reasons.extend(problems[:3])

    def fail_checked(self, problems: list[str]) -> None:
        """Count one op that passed its own check as failed, when a later
        once-per-run check of that op's output finds ``problems``."""
        if problems:
            self.reasons.extend(problems[:3])
            if self.failed < self.attempted:
                self.failed += 1


def check_doc_summary(summary: dict, n_rows: int, payload_bytes: int) -> list[str]:
    out = []
    if summary.get("rows") != n_rows:
        out.append(f"summary rows {summary.get('rows')} != {n_rows}")
    if summary.get("payload_bytes") != payload_bytes:
        out.append(f"summary payload_bytes {summary.get('payload_bytes')} != {payload_bytes}")
    return out


def check_doc_output(snap_dir: str, expected: dict[str, bytes], n_sinks: int) -> list[str]:
    """Every url lands once, in sink ``crc32(url) % n_sinks``, with the
    reference extraction of its html as ``extracted``."""
    out: list[str] = []
    seen: set[str] = set()
    for sink_dir in sorted(glob.glob(os.path.join(snap_dir, "sink_id=*"))):
        sink = int(sink_dir.rsplit("=", 1)[1])
        for path in sorted(glob.glob(os.path.join(sink_dir, "*.parquet"))):
            t = pq.read_table(path, columns=["url", "extracted"])
            for url, ext in zip(t.column("url").to_pylist(), t.column("extracted").to_pylist()):
                if url in seen:
                    out.append(f"url {url} written twice")
                seen.add(url)
                if zlib.crc32(url.encode()) % n_sinks != sink:
                    out.append(f"url {url} in sink {sink}")
                want = expected.get(url)
                if want is None:
                    out.append(f"unexpected url {url}")
                elif ext != want:
                    out.append(f"extracted bytes differ for {url}")
    missing = len(expected) - len(seen & expected.keys())
    if missing:
        out.append(f"{missing} urls missing from the output")
    return out


def check_tail_summary(summary: dict, appended_lines: int) -> list[str]:
    if summary.get("lines") != appended_lines:
        return [f"committed lines {summary.get('lines')} != appended {appended_lines}"]
    return []


def check_tail_offsets(lineage_rows: list[dict], sizes: dict[str, int], appended_lines: int) -> list[str]:
    """Final ``offset_end`` of each file equals its size, and committed
    row counts add up to every appended line."""
    out = []
    hwm: dict[str, int] = {}
    for r in lineage_rows:
        hwm[r["src_file"]] = max(hwm.get(r["src_file"], 0), r["offset_end"])
    for path, size in sizes.items():
        if hwm.get(path) != size:
            out.append(f"{os.path.basename(path)}: offset_end {hwm.get(path)} != size {size}")
    committed = sum(r["row_count"] for r in lineage_rows)
    if committed != appended_lines:
        out.append(f"lineage rows {committed} != appended lines {appended_lines}")
    return out


def check_row_counts(counts: dict[str, int], expected: dict[str, int]) -> list[str]:
    return [
        f"{name}: {counts.get(name)} rows, expected {n}"
        for name, n in expected.items()
        if counts.get(name) != n
    ]


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_rows(name: str, got: list[dict], want: list[dict]) -> list[str]:
    """Order-insensitive equality of two result sets, floats to 1e-9."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle has {len(want)}"]
    if not got:
        return []
    cols = sorted(got[0])
    if sorted(want[0]) != cols:
        return [f"{name}: columns {cols} != oracle {sorted(want[0])}"]

    def key(r):
        exact = tuple(repr(_norm(r[c])) for c in cols if not isinstance(r[c], float))
        return exact + tuple(round(r[c], 6) for c in cols if isinstance(r[c], float))

    for i, (g, w) in enumerate(zip(sorted(got, key=key), sorted(want, key=key))):
        for c in cols:
            if not _close(_norm(g[c]), _norm(w[c])):
                return [f"{name}: row {i} column {c}: {g[c]!r} != oracle {w[c]!r}"]
    return []
