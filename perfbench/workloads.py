"""The four closed-loop workloads.

Each workload generates its inputs from the seed (:meth:`prepare`, not
timed), runs one operation per :meth:`op` call through the program's
public functions, and checks every op's result (:meth:`check_op`) plus,
once per run, the last op's full output (:meth:`final_check`).  The
traced run additionally calls :meth:`wrap_layers` and :meth:`ladder`.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

from scones.corpus import write_host_meta

import gen
from checks import (
    check_doc_output,
    check_doc_summary,
    check_row_counts,
    check_tail_offsets,
    check_tail_summary,
    compare_rows,
)
from spans import group_counts

N_SINKS = 4


def noop_write_s(df) -> float:
    """Wall seconds of a noop-sink write of ``df`` (runs the full plan)."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def wrap_pipeline(tracer) -> None:
    """Spans shared by every snapshot driver: lineage commit, run-record
    persist and the sink's parquet write."""
    from pyspark.sql.readwriter import DataFrameWriter

    import scones.lineage as lineage
    import scones.statsserver as statsserver

    tracer.wrap(lineage.LineageStore, "commit", "lineage.commit")
    tracer.wrap(statsserver, "persist_run_metrics", "statsserver.persist")
    tracer.wrap(DataFrameWriter, "parquet", "sink.write_job")


def dir_stats(root: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``root``."""
    n = size = 0
    for d, _, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class DocsSnapshot:
    """One ``pipeline.run_snapshot`` over seeded parquet documents, into a
    fresh output and checkpoint per op."""

    name = "docs_snapshot"
    warmup = 3
    n_docs = 12_000
    n_files = 16
    suffix = "*.parquet"

    def __init__(self, tmp: str, seed: int):
        self.tmp = tmp
        self.seed = seed
        self.in_dir = os.path.join(tmp, "in")
        self.host_meta = os.path.join(tmp, "dims", "host_meta.parquet")
        self.last_files: list[str] = []
        self._prev: list[str] = []

    def prepare(self) -> None:
        chunks = gen.doc_rows(self.n_docs, self.seed, self.n_files)
        self.chunks = chunks
        self.html = [r["html"] for rows in chunks for r in rows]
        self.expected = gen.expected_docs(chunks)
        self.payload_bytes = sum(len(v) for v in self.expected.values())
        self._write_inputs(chunks)
        write_host_meta(self.host_meta, seed=self.seed)

    def _write_inputs(self, chunks) -> None:
        gen.write_docs(self.in_dir, chunks)

    def _run(self, spark, cfg):
        from scones.pipeline import run_snapshot

        return run_snapshot(spark, cfg)

    def before_op(self, i: int) -> None:
        for d in self._prev:  # keep only the newest op's output on disk
            shutil.rmtree(d, ignore_errors=True)

    def op(self, spark, i: int) -> dict:
        from scones.config import PipelineConfig

        out = os.path.join(self.tmp, "ops", f"out{i}")
        ckpt = os.path.join(self.tmp, "ops", f"ckpt{i}")
        self._prev = [out, ckpt]
        cfg = PipelineConfig(
            input_glob=os.path.join(self.in_dir, self.suffix),
            output_dir=out,
            checkpoint_dir=ckpt,
            host_meta_path=self.host_meta,
            n_sinks=N_SINKS,
        )
        summary = self._run(spark, cfg)
        summary["checkpoint_dir"] = ckpt
        return summary

    def rows(self, result: dict) -> int:
        return int(result.get("rows") or 0)

    def check_op(self, result: dict) -> list[str]:
        return check_doc_summary(result, self.n_docs, self.payload_bytes)

    def oracle_check(self) -> list[str]:
        return []

    def final_check(self, result: dict) -> list[str]:
        return check_doc_output(result["output"], self.expected, N_SINKS)

    # --- traced run ---------------------------------------------------

    def wrap_layers(self, tracer) -> None:
        import scones.pipeline as pipeline

        def keep_files(files):
            self.last_files = list(files)

        wrap_pipeline(tracer)
        tracer.wrap(pipeline, "plan_new_files", "lineage.plan", keep_files)
        tracer.wrap(pipeline, "lineage_rows_for", "lineage.audit")
        tracer.wrap(pipeline, "build_snapshot_plan", "pipeline.build_plan")

    def _source(self, spark):
        from pyspark.sql import functions as F

        # the scan rung reads html too, or column pruning would skip it
        df = (
            spark.read.parquet(*self.last_files)
            .withColumn("src_file", F.col("_metadata.file_path"))
            .drop("text")
        )
        return df, "scan.self_s"

    def ladder(self, spark) -> dict:
        """Prefix ladder of noop writes over the op's own files; the op's
        split tuning is still set on the session."""
        from scones.enrich import enrich_broadcast
        from scones.extract import extract_documents
        from scones.metrics import observed
        from scones.route import with_sink_id

        src, src_name = self._source(spark)
        ext = extract_documents(src)
        enr = enrich_broadcast(ext, spark.read.parquet(self.host_meta))
        routed, _ = observed(with_sink_id(enr, N_SINKS))
        t = [
            noop_write_s(src),
            noop_write_s(ext),
            noop_write_s(enr),
            noop_write_s(routed.drop("html", "extracted_str")),
        ]
        return {
            src_name: t[0],
            "extract.self_s": t[1] - t[0],
            "enrich.self_s": t[2] - t[1],
            "route.self_s": t[3] - t[2],
            "ladder.last_s": t[3],
            **self._warc_rung(spark),
        }

    def _warc_rung(self, spark) -> dict:
        """The WARC parser over the same documents as ``.warc.gz`` shards,
        so the ``warc`` layer is measured on this workload too."""
        from scones.warc import read_warc

        warc_dir = os.path.join(self.tmp, "warc_in")
        if not os.path.isdir(warc_dir):
            gen.write_warc_shards(warc_dir, self.chunks)
        return {"warc.parse_s": noop_write_s(read_warc(spark, os.path.join(warc_dir, "*.warc.gz")))}

    def layer_counts(self, result: dict) -> dict:
        import pyarrow.dataset as ds

        out = result["output"]
        n_files, n_bytes = dir_stats(out)
        per_sink = []
        for sink_dir in sorted(glob.glob(os.path.join(out, "sink_id=*"))):
            per_sink.append(ds.dataset(sink_dir, format="parquet").count_rows())
        cat = ds.dataset(out, format="parquet").to_table(columns=["host_category"])
        n = cat.num_rows
        miss = cat.column("host_category").null_count
        return {
            "enrich.miss_frac": miss / n if n else 0.0,
            "route.sink_skew": max(per_sink) / (sum(per_sink) / len(per_sink)),
            "sink.out_bytes": n_bytes,
            "sink.out_files": n_files,
        }

    def probes(self, spark, ledger) -> dict:
        """Layers no timed workload reaches, probed once after the traced
        loop over inputs from the same seed: the curation queries."""
        queries = CurationQueries(os.path.join(self.tmp, "curation"), self.seed)
        queries.prepare()
        return queries.layer_probe(spark, ledger)

    def oracle_docs_per_s(self) -> float:
        from scones.oracle import extract_text

        t0 = time.perf_counter()
        for h in self.html:
            extract_text(h)
        return len(self.html) / (time.perf_counter() - t0)


class WarcSnapshot(DocsSnapshot):
    """One ``pipeline.run_warc_snapshot`` over seeded ``.warc.gz`` shards."""

    name = "warc_snapshot"
    n_docs = 8_000
    n_files = 8
    suffix = "*.warc.gz"

    def _write_inputs(self, chunks) -> None:
        gen.write_warc_shards(self.in_dir, chunks)

    def _run(self, spark, cfg):
        from scones.pipeline import run_warc_snapshot

        return run_warc_snapshot(spark, cfg)

    def _source(self, spark):
        from scones.warc import read_warc

        return read_warc(spark, self.last_files), "warc.parse_s"

    def _warc_rung(self, spark) -> dict:
        return {}


class TailIncremental:
    """``tailsource.run_tail_snapshot`` against one checkpoint kept for the
    whole run; before each op (not timed) every log file grows."""

    name = "tail_incremental"
    warmup = 3
    n_logs = 8
    lines_per_append = 10_000

    def __init__(self, tmp: str, seed: int):
        self.tmp = tmp
        self.seed = seed
        self.in_dir = os.path.join(tmp, "logs")
        self.out = os.path.join(tmp, "out")
        self.ckpt = os.path.join(tmp, "ckpt")
        self.paths = [os.path.join(self.in_dir, f"app{f}.log") for f in range(self.n_logs)]
        self.appended_lines = 0
        self.appended_bytes = 0
        self.last_work: list = []

    def prepare(self) -> None:
        os.makedirs(self.in_dir, exist_ok=True)
        for p in self.paths:
            open(p, "wb").close()

    def before_op(self, i: int) -> None:
        for old in glob.glob(os.path.join(self.out, "snapshot_id=*")):
            shutil.rmtree(old, ignore_errors=True)
        self.op_bytes = 0
        for f, p in enumerate(self.paths):
            data = gen.log_lines(self.seed, f, i, self.lines_per_append)
            with open(p, "ab") as fh:
                fh.write(data)
            self.op_bytes += len(data)
        self.appended_lines += self.n_logs * self.lines_per_append
        self.appended_bytes += self.op_bytes

    def op(self, spark, i: int) -> dict:
        from scones.tailsource import run_tail_snapshot

        summary = run_tail_snapshot(
            spark, os.path.join(self.in_dir, "*.log"), self.out, self.ckpt, n_sinks=N_SINKS
        )
        summary["checkpoint_dir"] = self.ckpt
        summary["appended_bytes"] = self.op_bytes
        return summary

    def rows(self, result: dict) -> int:
        return int(result.get("lines") or 0)

    def check_op(self, result: dict) -> list[str]:
        return check_tail_summary(result, self.n_logs * self.lines_per_append)

    def oracle_check(self) -> list[str]:
        return []

    def final_check(self, result: dict) -> list[str]:
        from scones.lineage import LineageStore

        rows = LineageStore(self.ckpt).read_all().to_pylist()
        sizes = {p: os.path.getsize(p) for p in self.paths}
        return check_tail_offsets(rows, sizes, self.appended_lines)

    def wrap_layers(self, tracer) -> None:
        import scones.tailsource as tailsource
        from pyspark.sql.classic.dataframe import DataFrame

        def keep_work(work):
            self.last_work = list(work)

        wrap_pipeline(tracer)
        tracer.wrap(tailsource, "plan_tail_work", "lineage.plan", keep_work)
        # the tail audit is the offsets aggregate's collect()
        tracer.wrap(DataFrame, "collect", "lineage.audit")

    def ladder(self, spark) -> dict:
        from scones.tailsource import read_tail

        t = noop_write_s(read_tail(spark, self.last_work))
        return {"tailsource.frame_s": t, "ladder.last_s": t}

    def layer_counts(self, result: dict) -> dict:
        n_files, n_bytes = dir_stats(result["output"])
        read = sum(result["bytes_read"].values())
        return {
            "tailsource.read_amplification": read / result["appended_bytes"],
            "sink.out_bytes": n_bytes,
            "sink.out_files": n_files,
        }


class CurationQueries:
    """One pass of six ``__spark_entry__.queries()`` entries through the
    noop sink, each query's row count observed in the same job.

    ``dedup_components`` runs 41 Spark jobs and needs about six passes to
    settle, longer than a run can warm up, so it is left out of the timed
    pass; the traced run times it after each traced pass instead.
    """

    name = "curation_queries"
    warmup = 2
    sizes = {"docs": 2_000, "events": 20_000, "lineitem": 100_000, "zipf_docs": 250}
    pass_names = [
        "route_counts",
        "enrich_broadcast",
        "grok_parse_events",
        "extract_roundtrip",
        "tpch_q1",
        "substring_dedup_clean",
    ]
    probe_names = ["dedup_components"]
    tables = {
        "route_counts": "docs",
        "enrich_broadcast": "docs",
        "grok_parse_events": "events",
        "extract_roundtrip": "docs",
        "tpch_q1": "lineitem",
        "dedup_components": "zipf_docs",
        "substring_dedup_clean": "zipf_docs",
    }

    def __init__(self, tmp: str, seed: int):
        self.tmp = tmp
        self.seed = seed
        self.sf = os.path.join(tmp, "sf")
        self.zipf_dir = os.path.join(tmp, "zipf")
        self.expected: dict[str, int] | None = None
        self.collected: dict[str, list[dict]] = {}
        self.query_times: dict[str, float] = {}
        self.job_group: str | None = None

    def prepare(self) -> None:
        gen.write_curation(self.sf, self.zipf_dir, self.seed, self.sizes)
        self.rows_per_pass = sum(self.sizes[self.tables[n]] for n in self.pass_names)

    def _dir(self, name: str) -> str:
        return self.zipf_dir if self.tables[name] == "zipf_docs" else self.sf

    def before_op(self, i: int) -> None:
        pass

    def _run_query(self, spark, name: str) -> int:
        """Build and run one query into the noop sink; returns its rows."""
        import __spark_entry__ as entry
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if self.job_group is not None:
            spark.sparkContext.setJobGroup(f"{self.job_group}.{name}", name)
        obs = Observation(name)
        t0 = time.perf_counter()  # some queries run jobs while building
        df = entry.queries()[name](spark, self._dir(name))
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        self.query_times[name] = time.perf_counter() - t0
        return int(obs.get["n"])

    def op(self, spark, i: int) -> dict:
        if self.expected is None:
            return self._collect_pass(spark)
        return {"counts": {name: self._run_query(spark, name) for name in self.pass_names}}

    def _collect_pass(self, spark) -> dict:
        """First warm-up pass: collect every query; its rows are compared
        with the DuckDB oracles by :meth:`oracle_check` (outside the set-up
        time) and its row counts become every later op's expectation."""
        import __spark_entry__ as entry

        queries = entry.queries()
        self.collected = {
            name: [r.asDict() for r in queries[name](spark, self._dir(name)).collect()]
            for name in self.pass_names
        }
        self.expected = {name: len(rows) for name, rows in self.collected.items()}
        return {"counts": dict(self.expected)}

    def oracle_check(self) -> list[str]:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        problems = []
        for name, got in self.collected.items():
            con = duckdb.connect()
            try:
                for p in glob.glob(os.path.join(self._dir(name), "*.parquet")):
                    t = os.path.basename(p)[: -len(".parquet")]
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")
                res = con.execute(oracles[name])
                cols = [c[0] for c in res.description]
                want = [dict(zip(cols, r)) for r in res.fetchall()]
            finally:
                con.close()
            problems += compare_rows(name, got, want)
        self.collected = {}
        return problems

    def rows(self, result: dict) -> int:
        return self.rows_per_pass

    def check_op(self, result: dict) -> list[str]:
        return check_row_counts(result["counts"], self.expected)

    def final_check(self, result: dict) -> list[str]:
        return []

    def wrap_layers(self, tracer) -> None:
        pass  # per-query times come from query_layers

    def layer_probe(self, spark, ledger, passes: int = 3) -> dict:
        """Median per-query seconds and jobs over ``passes`` traced passes
        after the checked collect pass; each pass counts as an op."""
        ledger.record(self.check_op(self.op(spark, 0)))
        ledger.fail_checked(self.oracle_check())
        recs = []
        for i in range(passes):
            self.job_group = f"perfbench.probe{i}"
            ledger.record(self.check_op(self.op(spark, i + 1)))
            recs.append(self.query_layers(spark, self.job_group))
        self.job_group = None
        return {k: statistics.median(r[k] for r in recs) for k in recs[0] if k.startswith("query.")}

    def query_layers(self, spark, group: str) -> dict:
        """Per-query seconds and Spark jobs of the traced pass, then of the
        probe queries, run now under the same job group prefix (outside
        the op's wall)."""
        for name in self.probe_names:
            self._run_query(spark, name)
        rec, jobs, tasks = {}, 0, 0
        for name in self.pass_names + self.probe_names:
            n_jobs, n_tasks = group_counts(spark, f"{group}.{name}")
            rec[f"query.{name}_s"] = self.query_times[name]
            rec[f"query.{name}.jobs"] = n_jobs
            if name in self.pass_names:
                jobs, tasks = jobs + n_jobs, tasks + n_tasks
        rec["spark.jobs_per_op"], rec["spark.tasks_per_op"] = jobs, tasks
        return rec
