#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's inputs from the
seed, starts the engine's session on ``local[<cpus>]``, sets up, runs the
workload's closed loop for ``--seconds``, checks every output against the
generator's ground truth and prints one JSON object as the last line of
stdout.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics of a traced window, plus the tracing
overhead measured against an untraced window of the same run.

Everything the run writes lives under ``.perfbench/`` in the working
directory; the run's scratch root is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("interactive_lookups", "corpus_dedup")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
}
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "fetch.stage_s": "s", "fetch.pages": "count", "fetch.bytes": "B", "fetch.failed_pages": "count",
    "xml.parse_s": "s", "xml.records_out": "count", "xml.skipped_pages": "count",
    "xml.python_cpu_s": "s",
    "domain.derive_s": "s", "domain.unique_ratio": "ratio",
    "pair_counts.s": "s", "pair_counts.rows_out": "count", "pair_counts.shuffle_bytes": "B",
    "layout.write_s": "s", "layout.files_written": "count", "layout.bytes_written": "B",
    "layout.partitions_written": "count", "layout.write_amplification": "ratio",
    "layout.files_per_partition": "count",
    "incremental.merge_s": "s", "incremental.new_rows": "count", "incremental.deleted_rows": "count",
    "lookup.plan_ms": "ms", "lookup.exec_ms": "ms", "lookup.jobs_per_req": "count",
    "lookup.tasks_per_req": "count", "lookup.files_read_per_req": "count",
    "lookup.rows_scanned_per_row_returned": "ratio",
    "lookup.p50_ms": "ms", "lookup.tail_ms": "ms", "delta.apply_s": "s", "delta.swap_read_errors": "count",
    "text.quality_s": "s", "dedup.pairs_s": "s", "dedup.pairs_out": "count", "dedup.cluster_s": "s",
    "dedup.docs_removed": "count", "dedup.planted_recall": "ratio", "dedup.false_removals": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "trace.overhead.op_p50_ms": "ratio", "trace.overhead.ops_per_s": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def heap_size() -> str:
    """2 GiB, or a quarter of physical memory on smaller machines."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(512, min(2048, total // 4 // (1 << 20)))}m"


def prepare_env(root: str) -> int:
    """Pin cpus, heap and every scratch directory of the run to ``root``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run for the traced read-back
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "100",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": heap_size(),
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in args),
        # spark-submit first runs a small launcher JVM with its own options
        "SPARK_LAUNCHER_OPTS": java_opts,
    })
    return cpus


class Context:
    def __init__(self, spark, tracer, check, root, seed, cpus):
        self.spark, self.tracer, self.check = spark, tracer, check
        self.root, self.seed, self.cpus = root, seed, cpus


def make_workload(name: str, ctx):
    import curation
    import dblp

    return {"interactive_lookups": dblp.InteractiveLookups, "corpus_dedup": curation.CorpusDedup}[name](ctx)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [REPO, HERE]
    # The engine must come from this checkout; fail before any output if not.
    import is3107datapipelineproject_spark  # noqa: F401

    work = os.path.join(os.getcwd(), ".perfbench")
    root = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    cpus = prepare_env(root)
    # a terminated run still stops the JVM and the workers it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result, report = run(args, root, cpus, work)
    finally:
        import harness

        harness.stop_children()
        shutil.rmtree(root, ignore_errors=True)
    for line in report:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


def run(args, root: str, cpus: int, work: str):
    from pyspark import cloudpickle

    import curation
    import gen_dblp
    import harness as H
    from spans import Tracer

    from is3107datapipelineproject_spark.session import get_spark

    # The fetch transport is a closure from this directory; ship it by value.
    cloudpickle.register_pickle_by_value(gen_dblp)

    with H.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        try:
            check = H.Check()
            # traced runs trace set-up too: it holds the DBLP write path
            ctx = Context(spark, Tracer(spark, enabled=bool(args.trace)), check, root, args.seed, cpus)
            wl = make_workload(args.workload, ctx)
            setup_s = session_s + wl.setup()
            setup_end = time.perf_counter()
            ctx.tracer.enabled = False
            plain, traced = H.OpLog(), H.OpLog()
            steal0, window0 = H.cpu_steal_s(), time.perf_counter()
            if args.trace:
                wl.measure(args.seconds / 2, plain)
                ctx.tracer.enabled = True
                undo = curation.wrap_dedup_layers(ctx.tracer)
                window_start = time.perf_counter()
                try:
                    wl.measure(args.seconds / 2, traced)
                finally:
                    undo()
                ctx.tracer.enabled = False
                ctx.tracer.harvest()
                ctx.tracer.dump(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
            else:
                wl.measure(args.seconds, plain)
            steal, window_s = H.cpu_steal_s() - steal0, time.perf_counter() - window0
            extra = layer_metrics(args.workload, wl, ctx, plain, traced, setup_end, window_start,
                                  session_s) if args.trace else {}
        finally:
            spark.stop()

    logs = [plain, traced] + [getattr(wl, name) for name in ("writer_log", "delta_reader_log", "warm_log")
                                    if hasattr(wl, name)]
    attempted = 1 + sum(log.attempted for log in logs)  # 1: the set-up build
    failed = sum(log.failed_ops for log in logs) + len(check.failures)
    lat = plain.latencies_ms()
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": plain.per_s(),
    }
    if args.trace:
        extra["process.peak_rss_mb"] = rss.peak / (1 << 20)
    metrics = e2e if not args.trace else extra
    units = END_TO_END if not args.trace else PER_LAYER
    p, tail = H.percentile_tail(lat)
    report = [
        f"# workload {args.workload} seed {args.seed} cpus {cpus} trace {args.trace}",
        f"# inputs {json.dumps(wl.sizes())}",
        f"# session_start_s {session_s:.3f} setup_s {setup_s:.3f}",
        f"# ops {len(lat)} p50_ms {H.median(lat):.2f} p{p:g}_ms {tail:.2f} (n={len(lat)}) "
        f"ops_per_s {e2e['ops_per_s']:.3f}",
        f"# op_ms {[round(x) for x in lat]}",
        f"# attempted {attempted} failed {failed} error_rate {failed / max(1, attempted):.4f} "
        f"peak_rss_mb {rss.peak / (1 << 20):.0f}",
    ]
    report.append(f"# cpu time stolen by the host in the window {steal:.1f} s, "
                  f"{steal / (cpus * window_s):.0%} of {cpus} cpus")
    report += wl.report()
    failures = [f for log in logs for f in log.failures] + check.failures
    report += [f"# FAILED {f}" for f in failures[:20]]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    return result, report


def layer_metrics(workload, wl, ctx, plain, traced, setup_end, window_start, session_s) -> dict:
    """Roll spans up into the per-layer metrics.

    Lookup and Spark runtime metrics come from the traced window and are
    per operation of the loop.  The write-side layers come from where the
    workload runs them: on interactive_lookups from set-up (the refresh and
    its delta, so per set-up), on corpus_dedup from the traced window
    (per curation pass)."""
    import harness as H

    tr = ctx.tracer
    self_s = tr.self_times()
    window = [s for s in tr.spans if s.start >= window_start]
    if workload == "interactive_lookups":
        batch, n_batch = [s for s in tr.spans if s.end <= setup_end], 1
    else:
        batch, n_batch = window, max(1, sum(1 for s in window if s.name == "op"))

    def named(*prefixes, spans=batch):
        return [s for s in spans if s.name.startswith(prefixes)]

    def self_sum(*prefixes):
        return sum(self_s[s.sid] for s in named(*prefixes)) / n_batch

    def count(key, *prefixes):
        return sum(s.counts.get(key, 0) for s in named(*prefixes)) / n_batch

    m = {"session.start_s": session_s}
    m["fetch.stage_s"] = self_sum("fetch.")
    m["fetch.pages"] = count("files", "fetch.")
    m["fetch.bytes"] = count("bytes", "fetch.")
    m["fetch.failed_pages"] = count("failed_pages", "fetch.")
    m["xml.parse_s"] = self_sum("xml.")
    m["xml.records_out"] = count("records_out", "xml.")
    m["xml.skipped_pages"] = count("pages_in", "xml.") - count("pages_parsed", "xml.")
    m["xml.python_cpu_s"] = count("python_cpu_s", "xml.")
    m["domain.derive_s"] = self_sum("domain.")
    records = count("records_out", "xml.")
    m["domain.unique_ratio"] = count("unique_out", "domain.") / records if records else 0.0
    m["pair_counts.s"] = self_sum("pair_counts")
    m["pair_counts.rows_out"] = count("rows_out", "pair_counts")
    m["pair_counts.shuffle_bytes"] = count("shuffle_write_bytes", "pair_counts")
    m["layout.write_s"] = self_sum("layout.")
    m["layout.files_written"] = count("files", "layout.")
    m["layout.bytes_written"] = count("bytes", "layout.")
    m["layout.partitions_written"] = count("partitions", "layout.")
    m["incremental.merge_s"] = self_sum("incremental.")
    m["incremental.new_rows"] = count("new_rows", "incremental.")
    m["incremental.deleted_rows"] = count("deleted_rows", "incremental.")
    if workload == "interactive_lookups":
        st = H.dir_stats(wl.tables.pubs)
        m["layout.files_per_partition"] = st["files"] / max(1, st["partitions"])
        # delta rows sized at the table's mean stored row size
        rows = ctx.spark.read.parquet(wl.tables.pubs).count()
        delta_bytes = (m["incremental.new_rows"] + m["incremental.deleted_rows"]) * st["bytes"] / rows
        overwritten = count("bytes", "layout.overwrite_touched")
        m["layout.write_amplification"] = overwritten / delta_bytes if delta_bytes else 0.0
        m["delta.apply_s"] = H.median(wl.writer_log.latencies_ms()) / 1e3
        m["delta.swap_read_errors"] = len(wl.swap_errors)

    reqs = named("lookup.i1", "lookup.i2", "lookup.q1", "lookup.q3", spans=window)
    if reqs:
        kids = {}
        for s in named("lookup.plan", "lookup.exec", spans=window):
            kids.setdefault(s.parent, []).append(s)

        def per_req(key, with_kids):
            return sum(s.counts.get(key, 0) for r in reqs
                       for s in [r] + (kids.get(r.sid, []) if with_kids else [])) / len(reqs)

        m["lookup.plan_ms"] = H.median([s.duration * 1e3 for s in named("lookup.plan", spans=window)])
        m["lookup.exec_ms"] = H.median([s.duration * 1e3 for s in named("lookup.exec", spans=window)])
        m["lookup.jobs_per_req"] = per_req("jobs", True)
        m["lookup.tasks_per_req"] = per_req("tasks", True)
        m["lookup.files_read_per_req"] = per_req("files_read", False)
        returned = per_req("rows_returned", False)
        m["lookup.rows_scanned_per_row_returned"] = per_req("rows_scanned", False) / returned \
            if returned else 0.0
        m["lookup.p50_ms"] = H.median(plain.latencies_ms())
        m["lookup.tail_ms"] = H.percentile_tail(plain.latencies_ms())[1]

    m["text.quality_s"] = self_sum("text.")
    m["dedup.pairs_s"] = self_sum("dedup.pairs")
    m["dedup.pairs_out"] = count("rows_out", "dedup.pairs")
    m["dedup.cluster_s"] = self_sum("dedup.cluster")
    if workload == "corpus_dedup":
        m["dedup.docs_removed"] = H.median(wl.removed)
        m["dedup.planted_recall"] = H.median(wl.recall)
        m["dedup.false_removals"] = H.median(wl.false_removals)

    n_ops = max(1, len(traced.spans))
    real = [s for s in window if s.name != "bench.bookkeeping"]
    for key in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
                "spill_bytes", "gc_s"):
        m[f"spark.{key}"] = sum(s.counts.get(key, 0) for s in real) / n_ops

    t_lat, p_lat = traced.latencies_ms(), plain.latencies_ms()
    if t_lat and p_lat:
        m["trace.overhead.op_p50_ms"] = H.median(t_lat) / H.median(p_lat) - 1
        m["trace.overhead.ops_per_s"] = traced.per_s() / plain.per_s() - 1
    return m


if __name__ == "__main__":
    sys.exit(main())
