"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` and writes into the run's
private directory.  The document, WARC and host-meta inputs reuse the
program's own generators (``scones.corpus``, ``scones.warc.write_warc``);
the log lines and the testdata-shaped tables for the curation workload
are made here.  :func:`check_generator_pins` re-derives a small probe of
every generator at a fixed seed and compares its digest with the value
pinned below, so an edit to any generator stops the benchmark instead of
silently changing the workload.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from scones.corpus import (
    CORPUS_SCHEMA,
    generate_rows,
    host_meta_rows,
    write_zipf_documents,
    zipf_document_rows,
)
from scones.oracle import extract_text
from scones.warc import write_warc

PIN_SEED = 1

# sha256 of the probe each generator yields at PIN_SEED (see _probes).
PINNED_DIGESTS = {
    "corpus": "e287d5ed26242196598b28747030dbe89d2cf1755fde6a825872c65a3f1afc8d",
    "host_meta": "953ffcefdf2060beb321cb792c6bd895368ea99a9a2231057366b63fd24532f2",
    "warc": "7b3bd636080da9638c82a269e6518aaf0dcf2159972b3196689158ff46bc407d",
    "tail": "2009f9a8f527730359051eb71144564d231e9381204741938fefe7fd0ed33edf",
    "curation": "e3c5e1d8fd04afc1a7a8eba3d1db6b722c2c9859ec9102bbb6bba3a94a23d48d",
    "zipf": "5340924c52d8b61e93f155f0e61cd50607fd0fb914c62ca82476c1d3be85d029",
}


def _digest(*chunks: bytes) -> str:
    h = hashlib.sha256()
    for c in chunks:
        h.update(len(c).to_bytes(8, "little"))
        h.update(c)
    return h.hexdigest()


# --- documents (parquet) and WARC --------------------------------------


def doc_rows(n_docs: int, seed: int, n_files: int) -> list[list[dict]]:
    """``n_docs`` corpus rows split into ``n_files`` chunks; every file
    draws from its own derived seed (urls are seed-namespaced, so the
    chunks never collide)."""
    per = n_docs // n_files
    return [generate_rows(per, seed=seed * 1000 + f) for f in range(n_files)]


def expected_docs(chunks: list[list[dict]]) -> dict[str, bytes]:
    """url -> reference extraction of its html (``scones.oracle``)."""
    return {r["url"]: extract_text(r["html"]) for rows in chunks for r in rows}


def write_docs(out_dir: str, chunks: list[list[dict]]) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f, rows in enumerate(chunks):
        path = os.path.join(out_dir, f"docs_{f:04d}.parquet")
        pq.write_table(
            pa.Table.from_pylist(rows, schema=CORPUS_SCHEMA), path, compression="zstd"
        )
        paths.append(path)
    return paths


def write_warc_shards(out_dir: str, chunks: list[list[dict]]) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f, rows in enumerate(chunks):
        path = os.path.join(out_dir, f"shard_{f:04d}.warc.gz")
        write_warc(path, rows, gzip_members=True)
        paths.append(path)
    return paths


# --- raw log lines (tail workload) -------------------------------------

_LEVELS = ["INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG"]
_VERBS = ["GET", "GET", "GET", "POST", "PUT", "DELETE"]
_STATUS = [200, 200, 200, 301, 404, 500]


def log_lines(seed: int, file_no: int, batch_no: int, n: int) -> bytes:
    """``n`` newline-terminated access-log lines (~95 bytes each), a sixth
    of them CRLF-terminated, for file ``file_no`` at append ``batch_no``."""
    rng = np.random.default_rng([seed, file_no, batch_no])
    level, verb, status, crlf = (rng.integers(0, 6, n).tolist() for _ in range(4))
    api, item, ms, user = (
        rng.integers(lo, hi, n).tolist() for lo, hi in ((1, 4), (0, 10**6), (1, 2001), (0, 5000))
    )
    base = datetime(2024, 5, 1) + timedelta(minutes=batch_no)
    secs: dict[int, str] = {}
    out = []
    for i in range(n):
        t_ms = i * 7
        sec = secs.get(t_ms // 1000)
        if sec is None:
            sec = secs[t_ms // 1000] = (base + timedelta(seconds=t_ms // 1000)).strftime("%Y-%m-%dT%H:%M:%S")
        out.append(
            f"{sec}.{t_ms % 1000:03d} {_LEVELS[level[i]]} f{file_no} b{batch_no} n{i} "
            f"{_VERBS[verb[i]]} /api/v{api[i]}/item/{item[i]} status={_STATUS[status[i]]} "
            f"ms={ms[i]} user={user[i]}{chr(13) if crlf[i] == 0 else ''}\n"
        )
    return "".join(out).encode()


# --- testdata-shaped tables (curation workload) ------------------------

_DOC_WORDS = (
    "a agg batch big column data fast filter group hash key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window index join plan task shuffle"
).split()
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def curation_tables(seed: int, n_docs: int, n_events: int, n_lineitem: int) -> dict[str, pa.Table]:
    """documents / events / lineitem with the shared testdata's schemas."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(5, 60, n_docs)
    word_ix = rng.integers(0, len(_DOC_WORDS), int(n_words.sum()))
    texts, pos = [], 0
    for k in n_words:
        texts.append(" ".join(_DOC_WORDS[j] for j in word_ix[pos : pos + k]))
        pos += k
    langs = np.array(["en"] * 6 + ["es", "de", "fr", "zh"])[rng.integers(0, 10, n_docs)]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.cumsum(rng.integers(1, 60_000_000, n_events)).astype("timedelta64[us]")
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 2000, n_events, dtype=np.int64)),
            "event_type": pa.array(
                np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)].tolist(), pa.string()
            ),
            "value": pa.array(np.round(rng.uniform(0, 200, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()),
        }
    )
    ship0 = np.datetime64("1992-01-01T00:00:00", "us")
    days = rng.integers(0, 365 * 10, n_lineitem).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(1, n_lineitem // 4 + 2, n_lineitem, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(1, 20_000, n_lineitem, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(1, 1_000, n_lineitem, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_lineitem).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_lineitem), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_lineitem) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lineitem) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitem)].tolist(), pa.string()),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lineitem)].tolist(), pa.string()),
            "l_shipdate": pa.array(ship0 + days.astype("timedelta64[us]"), pa.timestamp("us")),
        }
    )
    return {"documents": documents, "events": events, "lineitem": lineitem}


def write_curation(sf_dir: str, zipf_dir: str, seed: int, sizes: dict) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in curation_tables(
        seed, sizes["docs"], sizes["events"], sizes["lineitem"]
    ).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    write_zipf_documents(zipf_dir, n_docs=sizes["zipf_docs"], seed=seed)


# --- generator pins ----------------------------------------------------


def _ipc_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def _probes() -> dict[str, str]:
    """A small output of every generator at PIN_SEED, digested."""
    rows = generate_rows(50, seed=PIN_SEED)
    out = {
        "corpus": _digest(
            *(
                f"{r['url']}|{r['warc_ts'].isoformat()}|{r['lang']}".encode() + r["html"]
                for r in rows
            )
        ),
        "host_meta": _digest(repr(host_meta_rows(PIN_SEED)).encode()),
        "tail": _digest(log_lines(PIN_SEED, 0, 0, 50), log_lines(PIN_SEED, 3, 2, 50)),
        "zipf": _digest(repr(zipf_document_rows(20, seed=PIN_SEED)).encode()),
        "curation": _digest(
            *(_ipc_bytes(t) for t in curation_tables(PIN_SEED, 50, 50, 50).values())
        ),
    }
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "probe.warc.gz")
        write_warc(p, rows[:10], gzip_members=True)
        with open(p, "rb") as fh:
            out["warc"] = _digest(fh.read())
    return out


def check_generator_pins() -> None:
    """Raise if any generator's probe no longer matches its pinned digest."""
    got = _probes()
    bad = {k: v for k, v in got.items() if PINNED_DIGESTS.get(k) != v}
    if bad:
        raise RuntimeError(
            "input generators changed; the workloads would silently differ "
            f"from the pinned ones: {sorted(bad)} -> {bad}"
        )
