"""Simplified WARC ingestion: Common-Crawl-style record containers →
the pipeline's documents shape (url, warc_ts, html, lang=null).

Real Common Crawl ships WARC: concatenated records, each a header block
(``WARC/1.0`` + colon headers, CRLF line endings, terminated by an empty
line) followed by exactly ``Content-Length`` body bytes and a blank-line
separator.  Production shards are ``.warc.gz``: each record is its OWN
gzip member, members concatenated, so any record is independently
seekable/decompressible (that is how the CC index addresses records).
This module parses both forms (the subset we emit: WARC-Target-URI,
WARC-Date, Content-Length) with a mapInArrow kernel —
Content-Length-driven slicing, so bodies may contain ANY bytes including
CRLFs and header-lookalikes.

Resilience: a malformed mid-shard record (bad magic, bad Content-Length,
corrupt gzip member) does not discard the rest of the shard — the parser
scans forward to the next record boundary (``WARC/1.0`` magic or gzip
magic) and counts what it skipped; :func:`warc_shard_stats` surfaces the
per-shard skip counters so silent data loss is observable.

Not a port of any WARC library; the envelope grammar is from the public
WARC/1.0 spec (ISO 28500) simplified to the fields we need.

Scale note: one shard = one work unit; WARC shards are conventionally
~1 GB, and parallelism comes from the shard count (Common Crawl
publishes ~64k shards per snapshot).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from . import pyworker

WARC_DOC_DDL = (
    "url string, warc_ts timestamp, html binary, lang string, "
    "src_file string, record_offset bigint"
)

_GZIP_MAGIC = b"\x1f\x8b"
_WARC_MAGIC = b"WARC/1.0"


def write_warc(path: str, records: list[dict], gzip_members: bool = False) -> None:
    """Deterministic simplified-WARC writer (tests/corpus only).

    ``records``: dicts with url (str), warc_ts (datetime), html (bytes).
    ``gzip_members=True`` writes the production ``.warc.gz`` form: one
    gzip member per record, concatenated.
    """
    with open(path, "wb") as f:
        for r in records:
            ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
            body = r["html"]
            rec = b"".join(
                [
                    b"WARC/1.0\r\n",
                    b"WARC-Type: response\r\n",
                    f"WARC-Target-URI: {r['url']}\r\n".encode(),
                    f"WARC-Date: {ts}\r\n".encode(),
                    f"Content-Length: {len(body)}\r\n".encode(),
                    b"\r\n",
                    body,
                    b"\r\n\r\n",
                ]
            )
            if gzip_members:
                co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
                f.write(co.compress(rec) + co.flush())
            else:
                f.write(rec)


def _next_boundary(data: bytes, pos: int) -> int:
    """Scan-forward resync point: the next WARC or gzip magic at/after
    ``pos``, or len(data)."""
    w = data.find(_WARC_MAGIC, pos)
    g = data.find(_GZIP_MAGIC, pos)
    cands = [x for x in (w, g) if x >= 0]
    return min(cands) if cands else len(data)


def _parse_one_plain(
    data: bytes, pos: int, src_file: str, record_offset: int
) -> tuple[dict | None, int, str | None]:
    """Parse ONE plain record at ``pos``.  Returns (record, new_pos, err);
    err='truncated' means incomplete trailing record (not an error),
    err='malformed' means resync needed."""
    n = len(data)
    head_end = data.find(b"\r\n\r\n", pos)
    if head_end < 0:
        return None, n, "truncated"
    header = data[pos:head_end].decode("utf-8", errors="replace")
    lines = header.split("\r\n")
    if not lines or not lines[0].startswith("WARC/"):
        return None, pos, "malformed"
    fields = {}
    for line in lines[1:]:
        k, _, v = line.partition(":")
        fields[k.strip().lower()] = v.strip()
    try:
        length = int(fields.get("content-length", ""))
    except ValueError:
        return None, pos, "malformed"
    body_start = head_end + 4
    if body_start + length > n:
        return None, n, "truncated"
    body = data[body_start : body_start + length]
    ts_raw = fields.get("warc-date", "")
    try:
        ts = datetime.strptime(ts_raw, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        ts = None
    rec = {
        "url": fields.get("warc-target-uri"),
        "warc_ts": ts,
        "html": body,
        "lang": None,
        "src_file": src_file,
        "record_offset": record_offset,
    }
    return rec, body_start + length, None


def parse_warc_bytes(
    data: bytes, src_file: str = "", stats: dict | None = None
) -> list[dict]:
    """Parse one WARC shard's bytes → record dicts (pure function; the
    Spark kernel and the tests share it).

    Handles plain shards, per-record-gzip shards (.warc.gz), and mixes.
    ``record_offset`` is the record's byte offset in the SHARD as stored
    (for gzip members: the member's offset — the CC index convention;
    all records inside one member share it).

    ``stats`` (optional dict) accumulates ``skipped_records`` /
    ``skipped_bytes`` / ``truncated_tail`` counters instead of silently
    dropping data.
    """
    if stats is None:
        stats = {}
    stats.setdefault("skipped_records", 0)
    stats.setdefault("skipped_bytes", 0)
    stats.setdefault("truncated_tail", 0)
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record padding
        while pos < n and data[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        record_offset = pos
        if data[pos : pos + 2] == _GZIP_MAGIC:
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            try:
                member = d.decompress(data[pos:])
                if not d.eof:
                    stats["truncated_tail"] += 1
                    break  # incomplete trailing member: not emitted
            except zlib.error:
                resync = _next_boundary(data, pos + 2)
                stats["skipped_records"] += 1
                stats["skipped_bytes"] += resync - pos
                pos = resync
                continue
            consumed = (n - pos) - len(d.unused_data)
            mpos = 0
            while mpos < len(member):
                while mpos < len(member) and member[mpos : mpos + 1] in (b"\r", b"\n"):
                    mpos += 1
                if mpos >= len(member):
                    break
                rec, new_mpos, err = _parse_one_plain(
                    member, mpos, src_file, record_offset
                )
                if err == "malformed":
                    resync = _next_boundary(member, mpos + 1)
                    stats["skipped_records"] += 1
                    stats["skipped_bytes"] += resync - mpos
                    mpos = resync
                    continue
                if err == "truncated":
                    stats["truncated_tail"] += 1
                    break
                out.append(rec)
                mpos = new_mpos
            pos += consumed
            continue
        rec, new_pos, err = _parse_one_plain(data, pos, src_file, record_offset)
        if err == "malformed":
            resync = _next_boundary(data, pos + 1)
            stats["skipped_records"] += 1
            stats["skipped_bytes"] += resync - pos
            pos = resync
            continue
        if err == "truncated":
            stats["truncated_tail"] += 1
            break
        out.append(rec)
        pos = new_pos
    return out


def warc_shard_stats(spark: SparkSession, glob: str) -> DataFrame:
    """Per-shard parse health: records emitted vs skipped/truncated —
    the observability counter that makes resync-on-corruption visible
    (a shard silently losing records would otherwise look clean)."""
    from .lineage import normalize_path

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pyworker.install()
        for batch in batches:
            paths = batch.column("path").to_pylist()
            contents = batch.column("content").to_pylist()
            rows = []
            for path, content in zip(paths, contents):
                stats: dict = {}
                recs = parse_warc_bytes(
                    bytes(content), normalize_path(path), stats=stats
                )
                rows.append(
                    {
                        "src_file": normalize_path(path),
                        "n_records": len(recs),
                        "skipped_records": stats["skipped_records"],
                        "skipped_bytes": stats["skipped_bytes"],
                        "truncated_tail": stats["truncated_tail"],
                    }
                )
            yield pa.RecordBatch.from_pylist(rows)

    raw = spark.read.format("binaryFile").load(glob).select("path", "content")
    return raw.mapInArrow(
        run,
        "src_file string, n_records bigint, skipped_records bigint, "
        "skipped_bytes bigint, truncated_tail bigint",
    )


def read_warc(spark: SparkSession, glob: str) -> DataFrame:
    """WARC shards → documents DataFrame (mapInArrow over binaryFile)."""
    from .lineage import normalize_path

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pyworker.install()
        for batch in batches:
            paths = batch.column("path").to_pylist()
            contents = batch.column("content").to_pylist()
            rows: list[dict] = []
            for path, content in zip(paths, contents):
                rows.extend(
                    parse_warc_bytes(bytes(content), normalize_path(path))
                )
            yield pa.RecordBatch.from_pylist(
                rows,
                schema=pa.schema(
                    [
                        ("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()),
                        ("lang", pa.string()),
                        ("src_file", pa.string()),
                        ("record_offset", pa.int64()),
                    ]
                ),
            )

    raw = spark.read.format("binaryFile").load(glob).select("path", "content")
    return raw.mapInArrow(run, WARC_DOC_DDL)
