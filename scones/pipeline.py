"""End-to-end pipeline wiring (≈ cmd/butteredscones/butteredscones.go:18-96).

One snapshot run = the reference's full data path re-expressed as a single
declarative DataFrame plan:

    plan new files (lineage anti-join)             ≈ glob + HWM skip (O1/O2)
    → read parquet (+ _metadata.file_path)         ≈ open + seek
    → mapInArrow extract (framing, max_length)     ≈ read()/frame (O3/O4/O5)
    → broadcast host_meta join                     ≈ static fields (O6)
    → sink_id = crc32(url) % k                     ≈ routing (O9)
    → observe metrics                              ≈ statistics (O14)
    → repartition + partitionBy(sink_id) write     ≈ ship (O7/O8/O10)
    → publish lineage (atomic rename)              ≈ ack + Bolt txn (O11)

Catalyst handles what the reference hand-built: the scan stage fuses
extract+enrich+route in one pass over the data (no materialization
between "operators"), AQE sizes the one shuffle, task retries replace the
retry channel (O12), the scheduler replaces the reader pool (O13).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .enrich import enrich_broadcast, with_host, with_static_fields
from .extract import extract_documents
from .lineage import LineageStore, lineage_rows_for, plan_new_files
from .metrics import observed
from .route import spread_expr, with_sink_id


def _tune_input_splits(spark: SparkSession, files: list[str]) -> None:
    """Size parquet input splits to the cluster, not the file layout.

    Spark packs small files into splits of ``maxPartitionBytes`` (128 MB
    default): a snapshot whose input is small relative to the cluster
    would plan fewer splits than cores and leave most of them idle (the
    no-shuffle pipeline's write parallelism == scan parallelism).  Clamp
    the split size so the scan yields ≈1 split per core, never above
    the 128 MB default (at 100 TB the clamp is a no-op) and never below
    16 MB.  On an object store the byte total would come from the table
    catalog, not os.stat.
    """
    total = 0
    for f in files:
        try:
            total += os.path.getsize(f)
        except OSError:
            return  # non-local input: keep defaults
    cores = spark.sparkContext.defaultParallelism
    open_cost = 256 << 10
    # 16 MB floor: tasks smaller than that are dominated by fixed
    # per-task cost (python worker handshake, 1 parquet writer per sink,
    # zstd context) — measured 1.4x slower at bench scale.  128 MB
    # ceiling = the stock default, so at production scale this whole
    # function is a no-op.
    target = min(
        128 << 20,
        max(16 << 20, (total + len(files) * open_cost) // cores),
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    # openCostInBytes (4 MB default) would inflate small files past the
    # split budget and defeat the sizing
    spark.conf.set("spark.sql.files.openCostInBytes", str(open_cost))


def _has_part_files(snap_dir: str) -> bool:
    """True iff the snapshot directory holds at least one parquet part.

    An all-empty snapshot (every planned input had zero rows) writes
    only _SUCCESS; distinguishing that from a failed/unreadable write
    must be an explicit listing, not an exception guess.
    """
    for root, _, fnames in os.walk(snap_dir):
        for f in fnames:
            if f.endswith(".parquet"):
                return True
    return False


def _read_documents(spark: SparkSession, mode: str, files: list[str]) -> DataFrame:
    """(url, warc_ts, html binary, lang, src_file, ...) rows of ``files``."""
    if mode == "warc":
        from .warc import read_warc

        return read_warc(spark, files)
    if mode == "jsonl":
        from .jsonl import read_jsonl

        return read_jsonl(spark, files)
    _tune_input_splits(spark, files)
    return (
        spark.read.parquet(*files)
        .withColumn("src_file", F.col("_metadata.file_path"))
        .drop("text")  # generator-provided expectation; we produce our own
    )


def build_snapshot_plan(
    spark: SparkSession, cfg: PipelineConfig, files: list[str]
) -> DataFrame:
    """The logical plan for one documents/WARC/JSONL snapshot over
    ``files`` (no action run)."""
    df = extract_documents(
        _read_documents(spark, cfg.mode, files), max_length=cfg.max_length
    )
    if cfg.host_meta_path:
        host_meta = spark.read.parquet(cfg.host_meta_path)
        df = enrich_broadcast(df, host_meta)
    else:
        df = with_host(df)
    return with_sink_id(with_static_fields(df, cfg.static_fields), cfg.n_sinks)


class DocsSource:
    """Documents, WARC and JSONL shards: immutable files admitted whole
    (file-granularity lineage), extracted, enriched and routed by url."""

    refused: dict[str, str] = {}
    reserved = ("src_file", "bytes_read", "sink_id")

    def plan(self, store: LineageStore, cfg: PipelineConfig) -> list[str]:
        return plan_new_files(store, cfg.input_glob)

    def frame(self, spark: SparkSession, cfg: PipelineConfig, files: list[str]):
        routed, obs = observed(build_snapshot_plan(spark, cfg, files))
        # extracted_str is derivable (cast(extracted as string)) — writing it
        # would double the payload bytes on every sink.
        return routed.drop("html", "extracted_str"), obs

    def audit(self, written, snapshot_id: int, files: list[str], obs):
        # zero-row planned files still get a consumed marker
        rows = lineage_rows_for(written, snapshot_id, planned_files=files)
        if written is None:
            # an all-empty snapshot ran zero output tasks → no observed row
            metrics = {"rows": 0, "payload_bytes": 0, "approx_urls": 0}
        else:
            metrics = obs.get
        return rows, {
            "n_files": len(files),
            "files": files if len(files) <= 8 else files[:3] + ["..."] + files[-1:],
            "rows": int(metrics["rows"]),
            "payload_bytes": int(metrics["payload_bytes"] or 0),
            "approx_urls": int(metrics["approx_urls"]),
        }


def source_for(mode: str):
    """The snapshot source for a pipeline mode (documents | warc | jsonl | tail)."""
    if mode in ("documents", "warc", "jsonl"):
        return DocsSource()
    if mode == "tail":
        from .tailsource import TailSource

        return TailSource()
    raise ValueError(f"unknown pipeline mode: {mode!r}")


def check_config(cfg: PipelineConfig, source) -> None:
    """Refuse a knob ``cfg.mode`` cannot honour, before any side effect."""
    for knob, why in source.refused.items():
        if getattr(cfg, knob):
            raise ValueError(f"{knob} is not supported in {cfg.mode} mode: {why}")
    clash = sorted(set(cfg.static_fields or ()) & set(source.reserved))
    if clash:
        raise ValueError(
            f"static_fields {clash} would overwrite columns that {cfg.mode} "
            "mode audits and routes by"
        )


def run_snapshot(
    spark: SparkSession,
    cfg: PipelineConfig,
    fail_before_commit: bool = False,
) -> dict:
    """Process all not-yet-committed input of ``cfg.mode`` as one snapshot.

    Returns a summary dict; ``{"snapshot_id": None, ...}`` when nothing new.
    ``fail_before_commit`` injects a crash between the sink write and the
    lineage publish (for the resume tests — the reference's
    crash-between-send-and-ack window, supervisor.go:191-219).
    """
    return drive_snapshot(spark, cfg, source_for(cfg.mode), fail_before_commit)


def run_warc_snapshot(
    spark: SparkSession,
    cfg: PipelineConfig,
    fail_before_commit: bool = False,
) -> dict:
    """:func:`run_snapshot` over Common-Crawl-style WARC shards."""
    return run_snapshot(spark, replace(cfg, mode="warc"), fail_before_commit)


def drive_snapshot(
    spark: SparkSession,
    cfg: PipelineConfig,
    source,
    fail_before_commit: bool = False,
) -> dict:
    """One snapshot, whatever the source (the reference's one supervisor
    loop, supervisor.go:98-249): plan → read → route → write → audit →
    commit.  ``source`` supplies what differs per mode: ``plan`` (new
    work from the lineage store), ``frame`` (the routed plan, plus
    whatever its ``audit`` needs) and ``audit`` (lineage rows and summary
    counters from the written output)."""
    check_config(cfg, source)
    t_start = time.perf_counter()
    store = LineageStore(cfg.checkpoint_dir)
    store.fence_attempt()  # fence out any abandoned watchdog attempt
    idle = {"snapshot_id": None, "files": [], "rows": 0}
    work = source.plan(store, cfg)
    if not work:
        return idle

    snapshot_id = store.next_snapshot_id()
    routed, state = source.frame(spark, cfg, work)
    t_planned = time.perf_counter()

    # One shuffle: co-locate by sink, spread within sink so a hot sink/host
    # never lands on a single reducer.
    if cfg.spread_partitions > 0:
        routed = routed.repartition(
            cfg.n_sinks * cfg.spread_partitions,
            F.col("sink_id"),
            spread_expr("url", cfg.spread_partitions),
        )

    snap_dir = os.path.join(cfg.output_dir, f"snapshot_id={snapshot_id}")
    routed.write.mode("overwrite").partitionBy("sink_id").parquet(snap_dir)
    t_written = time.perf_counter()

    # Lineage from the written output (audit of what actually landed).
    # The empty case is detected EXPLICITLY (no part-files under snap_dir
    # — an empty write leaves only _SUCCESS): any read failure on a
    # data-bearing snapshot (transient FS error, corrupt footer) must
    # propagate, never silently commit zero-row consumed markers.  On an
    # object store, list via the FS client.
    written = spark.read.parquet(snap_dir) if _has_part_files(snap_dir) else None
    rows, counters = source.audit(written, snapshot_id, work, state)
    if not rows:
        # nothing to commit (a tail whose new bytes hold only a partial
        # line): an idle poll, not a failure
        shutil.rmtree(snap_dir, ignore_errors=True)
        return idle
    hooks = {}
    if written is not None:
        hooks = _post_write_hooks(spark, cfg, store, snapshot_id, written)

    if fail_before_commit:
        raise RuntimeError("injected crash between sink write and lineage commit")

    store.commit(snapshot_id, rows)
    t_done = time.perf_counter()
    summary = {
        "snapshot_id": snapshot_id,
        **counters,
        "output": snap_dir,
        # phase walls: plan (serial driver), write (the parallel job),
        # audit+commit (serial driver) — for the Amdahl analysis in
        # BENCH/BASELINE.md; at 10^12 rows the serial phases are noise.
        "plan_sec": t_planned - t_start,
        "write_sec": t_written - t_planned,
        "audit_commit_sec": t_done - t_written,
        **hooks,
    }
    # durable counters (statistics.go parity, but surviving the process)
    from .statsserver import persist_run_metrics

    persist_run_metrics(cfg.checkpoint_dir, summary)
    return summary


def _post_write_hooks(
    spark: SparkSession,
    cfg: PipelineConfig,
    store: LineageStore,
    snapshot_id: int,
    written: DataFrame,
) -> dict:
    """The dedup-index and LM-scoring hooks; both run before the lineage
    commit so their side tables are durable by the time the snapshot
    counts as committed, and both overwrite deterministically ⇒ a
    crash-retry rewrites identical files."""
    out: dict = {}
    # Cross-snapshot dedup: persist this snapshot's band index and probe
    # the committed indexes (scones/incremental.py).
    if cfg.dedup_index:
        from .incremental import update_index_and_probe

        out.update(
            update_index_and_probe(
                spark,
                cfg.checkpoint_dir,
                cfg.output_dir,
                snapshot_id,
                written,
                committed_ids=store.committed_snapshots(),
                threshold=cfg.dedup_threshold,
            )
        )

    # External-LM quality scoring (CCNet shape): score this snapshot's
    # extracted text against the persisted model (scones.textops.save_lm
    # layout) and write the per-doc perplexity side table.  The model
    # tables are vocab-sized (never corpus-sized); unseen text scores via
    # add-one smoothing.
    if cfg.lm_model_path:
        from .incremental import pipeline_doc_view
        from .textops import lm_perplexity, load_lm

        model = load_lm(spark, cfg.lm_model_path)
        scores = lm_perplexity(
            pipeline_doc_view(written, snapshot_id), model=model
        )
        scores_dir = os.path.join(
            cfg.checkpoint_dir, "lm_scores", f"snapshot_id={snapshot_id}"
        )
        scores.write.mode("overwrite").parquet(scores_dir)
        out["lm_scores"] = scores_dir
        out["n_scored"] = int(spark.read.parquet(scores_dir).count())
    return out


def run_from_config(
    spark: SparkSession,
    cfg: PipelineConfig,
    stop_event=None,
    on_event=None,
    max_snapshots: int | None = None,
    max_iterations: int | None = None,
    sleep_fn=None,
):
    """Drive the pipeline entirely from a declarative config — mode,
    daemon-vs-one-shot, backoff/watchdog timings and the stats endpoint
    all come from ``cfg`` (config.go:13-42 parity: one JSON file is the
    whole deployment surface; CLI flags in :func:`main` merely override).

    Returns ``(summaries, stats_server_or_None)``; the caller owns
    stopping the server (it serves live state while the pipeline runs).
    """
    # a config error fails once here, not once per daemon retry
    check_config(cfg, source_for(cfg.mode))
    srv = None
    if cfg.stats_port is not None:
        from .statsserver import StatisticsServer

        srv = StatisticsServer(
            cfg.checkpoint_dir,
            cfg.input_glob,
            port=cfg.stats_port,
            output_dir=cfg.output_dir,
        ).start()
        if on_event is not None:
            on_event(
                {
                    "event": "stats_endpoint",
                    "url": f"http://127.0.0.1:{srv.port}/",
                }
            )
    try:
        if cfg.daemon:
            from .backoff import run_daemon

            kwargs = {} if sleep_fn is None else {"sleep_fn": sleep_fn}
            summaries = run_daemon(
                spark,
                cfg,
                run_fn=run_snapshot,
                retry_min_sec=cfg.retry_min_sec,
                retry_max_sec=cfg.retry_max_sec,
                poll_min_sec=cfg.poll_min_sec,
                poll_max_sec=cfg.poll_max_sec,
                snapshot_timeout_sec=cfg.snapshot_timeout_sec,
                jitter_frac=cfg.retry_jitter_frac,
                stop_event=stop_event,
                on_event=on_event,
                max_snapshots=max_snapshots,
                max_iterations=max_iterations,
                **kwargs,
            )
        else:
            summaries = [run_snapshot(spark, cfg)]
    except BaseException:
        # don't leak the listener thread + bound port to callers that
        # never receive the handle (library/test invocations)
        if srv is not None:
            srv.stop()
        raise
    return summaries, srv


def main() -> None:  # pragma: no cover — spark-submit entry point
    import argparse

    from .session import get_spark

    p = argparse.ArgumentParser(description="scones pipeline (spark-submit)")
    p.add_argument("--config", required=True)
    p.add_argument(
        "--mode",
        choices=["documents", "tail", "warc", "jsonl"],
        default=None,
        help="override the config's mode.  documents: parquet corpus "
        "snapshots; tail: raw log files with byte-offset resume (the "
        "reference's native mode); warc: Common-Crawl-style WARC shards "
        "(.warc/.warc.gz); jsonl: newline-delimited JSON shards "
        "(.jsonl/.jsonl.gz)",
    )
    p.add_argument(
        "--daemon",
        action=argparse.BooleanOptionalAction,
        default=None,
        help="run forever: retry failed snapshots with exponential "
        "backoff, back off idle polls, drain cleanly on SIGTERM/SIGINT "
        "(the reference's supervisor loop, supervisor.go:94-231); "
        "--no-daemon overrides a config that sets daemon: true — the "
        "override is symmetric like --mode/--stats-port",
    )
    p.add_argument(
        "--stats-port",
        type=int,
        default=None,
        help="serve the live statistics JSON endpoint on this port "
        "alongside the run (the reference starts its StatisticsServer "
        "next to the supervisor, cmd/butteredscones/butteredscones.go:65-75)",
    )
    p.add_argument(
        "--snapshot-timeout",
        type=float,
        default=None,
        help="hung-JVM watchdog: abandon a snapshot attempt after this "
        "many seconds, relaunch the SparkSession and retry under backoff",
    )
    a = p.parse_args()
    cfg = PipelineConfig.from_json(a.config)
    # CLI overrides on top of the declarative config
    if a.mode is not None:
        cfg.mode = a.mode
    if a.daemon is not None:
        cfg.daemon = a.daemon
    if a.stats_port is not None:
        cfg.stats_port = a.stats_port
    if a.snapshot_timeout is not None:
        cfg.snapshot_timeout_sec = a.snapshot_timeout
    stop = None
    if cfg.daemon:
        # install BEFORE the (slow) JVM launch: a TERM during startup
        # must also drain, not die mid-initialization
        import signal
        import threading

        stop = threading.Event()
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda *_: stop.set())
    spark = get_spark(app_name="scones-pipeline")
    summaries, srv = run_from_config(
        spark,
        cfg,
        stop_event=stop,
        on_event=lambda ev: print(ev, flush=True),
    )
    if not cfg.daemon:
        print(summaries[0])
    if srv is not None:
        srv.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
