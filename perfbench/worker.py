"""One benchmark run in a fresh process (started by run.py).

Generates the workload's inputs, starts the session, runs the warm-up
ops, then runs ops back to back until their summed wall reaches
``--seconds``, checks the outputs and prints the result as the last
line of stdout.  ``--trace 1`` alternates untraced and traced ops and
reports the per-layer split instead of the end-to-end metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import gen
import procfs
from checks import Ledger
from spans import Tracer, group_counts, layer_times
from workloads import CurationQueries, DocsSnapshot, TailIncremental, WarcSnapshot

WORKLOADS = {w.name: w for w in (DocsSnapshot, TailIncremental, WarcSnapshot, CurationQueries)}
MASTER = "local[2]"
MAX_CONSECUTIVE_FAILURES = 3


def scones_file_in_worker(_):
    import scones

    return scones.__file__


def start_session(root: str):
    from scones.session import get_spark

    spark = get_spark(
        master=MASTER,
        app_name="perfbench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    where = spark.sparkContext.parallelize([0], 1).map(scones_file_in_worker).collect()[0]
    if not os.path.realpath(where).startswith(os.path.realpath(root) + os.sep):
        raise RuntimeError(f"Python workers import scones from {where}, not from {root}")
    return spark


class Run:
    """The ops of one run: numbering, timing and the ledger of checks."""

    def __init__(self, workload):
        self.wl = workload
        self.ledger = Ledger()
        self.pid = os.getpid()
        self.last = None
        self.op_no = 0

    def one_op(self, spark) -> tuple[float, float, dict | None]:
        """(wall s, tree CPU s, result or None if it raised)."""
        self.wl.before_op(self.op_no)
        c0 = procfs.tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        try:
            result = self.wl.op(spark, self.op_no)
        except Exception as e:  # an op that raises is a failed op
            traceback.print_exc()
            self.ledger.record([f"op {self.op_no} raised {type(e).__name__}: {e}"[:300]])
            result = None
        wall = time.perf_counter() - t0
        cpu = procfs.tree_cpu_s(self.pid) - c0
        if result is not None:
            self.ledger.record(self.wl.check_op(result))
            self.last = result
        self.op_no += 1
        return wall, cpu, result


def timed_loop(run: Run, spark, seconds: float, each=None):
    """Ops back to back until their summed wall reaches ``seconds``."""
    walls, cpus, rows = [], [], 0
    fails = 0
    while sum(walls) < seconds and fails < MAX_CONSECUTIVE_FAILURES:
        wall, cpu, result = run.one_op(spark) if each is None else each(len(walls))
        walls.append(wall)
        cpus.append(cpu)
        fails = fails + 1 if result is None else 0
        rows += run.wl.rows(result) if result is not None else 0
    return walls, cpus, rows


def e2e_metrics(setup_s, peak_mb, walls, cpus, rows) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "op_s_p50": (statistics.median(walls), "s"),
        "rows_per_s": (rows / sum(walls), "1/s"),
        "cpu_s_per_op": (statistics.median(cpus), "s"),
    }


def traced_loop(run: Run, spark, seconds: float, tracer: Tracer):
    """Alternate untraced and traced ops; after each traced op, run the
    prefix ladder over the same inputs."""
    wl = run.wl
    sc = spark.sparkContext
    untraced, traced, per_op = [], [], []

    def each(k):
        if k % 2 == 0:
            out = run.one_op(spark)
            untraced.append(out[0])
            return out
        group = f"perfbench.op{run.op_no}"
        curation = isinstance(wl, CurationQueries)
        if curation:
            wl.job_group = group
        else:
            sc.setJobGroup(group, "traced op")
        tracer.enabled = True
        try:
            with tracer.span("op"):
                out = run.one_op(spark)
        finally:
            tracer.enabled = False
        traced.append(out[0])
        sc.setJobGroup("perfbench.ladder", "ladder")
        rec = layer_times(tracer.take())
        if curation:
            if out[2] is not None:
                rec.update(wl.query_layers(spark, group))
            wl.job_group = None
        elif out[2] is not None:
            rec["spark.jobs_per_op"], rec["spark.tasks_per_op"] = group_counts(spark, group)
            rec.update(wl.ladder(spark))
            rec.update(wl.layer_counts(out[2]))
            lineage_dir = os.path.join(out[2]["checkpoint_dir"], "lineage")
            rec["lineage.manifest_files"] = len(os.listdir(lineage_dir))
        per_op.append(rec)
        return out

    walls, cpus, rows = timed_loop(run, spark, seconds, each)
    return walls, cpus, rows, untraced, traced, per_op


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.jvm_rss_mb": "MB",
    "session.workers_rss_mb": "MB",
    "lineage.plan_s": "s",
    "lineage.manifest_files": "count",
    "lineage.audit_s": "s",
    "lineage.commit_s": "s",
    "pipeline.build_plan_s": "s",
    "statsserver.persist_s": "s",
    "pipeline.self_s": "s",
    "sink.write_job_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "scan.self_s": "s",
    "extract.self_s": "s",
    "enrich.self_s": "s",
    "route.self_s": "s",
    "sink.self_s": "s",
    "extract.docs_per_s": "1/s",
    "extract.oracle_docs_per_s": "1/s",
    "warc.parse_s": "s",
    "tailsource.frame_s": "s",
    "tailsource.read_amplification": "ratio",
    "enrich.miss_frac": "ratio",
    "route.sink_skew": "ratio",
    "sink.out_bytes": "B",
    "sink.out_files": "count",
    **{f"query.{n}_s": "s" for n in CurationQueries.pass_names + CurationQueries.probe_names},
    **{f"query.{n}.jobs": "count" for n in CurationQueries.pass_names + CurationQueries.probe_names},
    "host.steal_pct": "%",
    "tracing.overhead_pct": "%",
}

# span name -> per-layer metric
SPAN_METRICS = {
    "lineage.plan": "lineage.plan_s",
    "lineage.audit": "lineage.audit_s",
    "lineage.commit": "lineage.commit_s",
    "pipeline.build_plan": "pipeline.build_plan_s",
    "statsserver.persist": "statsserver.persist_s",
    "sink.write_job": "sink.write_job_s",
    "op.self_s": "pipeline.self_s",
}


def layer_metrics(wl, per_op, untraced, traced, start_s, rss, steal) -> dict:
    def med(key):
        vals = [r[key] for r in per_op if key in r]
        return statistics.median(vals) if vals else 0.0

    m = {k: 0.0 for k in PER_LAYER_UNITS}
    if not isinstance(wl, CurationQueries):  # no pipeline layers in a query pass
        for span, metric in SPAN_METRICS.items():
            m[metric] = med(span)
    for k in PER_LAYER_UNITS:
        if any(k in r for r in per_op):
            m[k] = med(k)
    if any("ladder.last_s" in r for r in per_op):
        m["sink.self_s"] = med("sink.write_job") - med("ladder.last_s")
    if isinstance(wl, DocsSnapshot):
        m["extract.docs_per_s"] = wl.n_docs / m["extract.self_s"] if m["extract.self_s"] > 0 else 0.0
        m["extract.oracle_docs_per_s"] = wl.oracle_docs_per_s()
    m["session.start_s"] = start_s
    m["session.jvm_rss_mb"], m["session.workers_rss_mb"] = rss
    m["host.steal_pct"] = steal
    m["tracing.overhead_pct"] = 100.0 * (statistics.median(traced) / statistics.median(untraced) - 1)
    return {k: (v, PER_LAYER_UNITS[k]) for k, v in m.items()}


def session_rss(pid: int) -> tuple[float, float]:
    """(JVM RSS, Python worker RSS) in MB, from the process tree."""
    procs = procfs.tree(pid)
    jvm = {p: v for p, v in procs.items() if v[0] == "java"}
    workers = {p: v for p, v in procs.items() if v[0].startswith("python") and p != pid}
    return procfs.rss_mb(jvm), procfs.rss_mb(workers)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--root", required=True)
    p.add_argument("--tmp", required=True)
    a = p.parse_args()

    gen.check_generator_pins()
    wl = WORKLOADS[a.workload](a.tmp, a.seed)
    wl.prepare()
    run = Run(wl)
    tracer = Tracer()
    pid = os.getpid()
    steal0 = procfs.host_cpu_ticks()
    with procfs.PeakRss(pid, interval_s=0.25) as peak:
        t0 = time.perf_counter()
        spark = start_session(a.root)
        start_s = time.perf_counter() - t0
        for _ in range(wl.warmup):
            run.one_op(spark)
        setup_s = time.perf_counter() - t0
        run.ledger.fail_checked(wl.oracle_check())
        if a.trace:
            wl.wrap_layers(tracer)
            walls, cpus, rows, untraced, traced, per_op = traced_loop(run, spark, a.seconds, tracer)
            tracer.unwrap_all()
            probed = wl.probes(spark, run.ledger) if hasattr(wl, "probes") else {}
        else:
            walls, cpus, rows = timed_loop(run, spark, a.seconds)
        if run.last is not None:
            run.ledger.fail_checked(wl.final_check(run.last))
        rss = session_rss(pid)
    steal = procfs.steal_pct(steal0, procfs.host_cpu_ticks())
    spark.stop()

    ledger = run.ledger
    if a.trace:
        metrics = layer_metrics(wl, per_op + [probed], untraced, traced, start_s, rss, steal)
    else:
        metrics = e2e_metrics(setup_s, peak.peak_mb, walls, cpus, rows)
    fail_frac = ledger.failed / max(ledger.attempted, 1)
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} warmup={wl.warmup} "
          f"master={MASTER} op_walls_s=[{', '.join(f'{w:.3f}' for w in walls)}]")
    for k, (v, unit) in metrics.items():
        print(f"  {k:36s} {v:14.4f} {unit}")
    print(f"  {'fail_frac':36s} {fail_frac:14.4f} 1")
    if not a.trace:
        print(f"  {'host.steal_pct':36s} {steal:14.4f} %")
    for r in ledger.reasons[:10]:
        print(f"  FAILED: {r}")
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
