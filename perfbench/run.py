"""Repository benchmark: seeded workloads with layer-attributed traces.

    python3 perfbench/run.py --workload {ingest,curate}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The launcher sizes the Spark session to
the host (all cores, a Spark driver heap from physical memory), keeps every
file it writes under ``.perfbench_work/`` in the checkout, generates
the workload's inputs from the seed, measures for ``--seconds`` and
checks the outputs after the timed region. The last line of standard
output is one JSON object: with ``--trace 0`` it carries the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run (spans are also written to ``.perfbench_work/traces/``).
A failed output check counts as a failed operation and makes the exit
code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# (name, unit) of every metric, in print order; BENCHMARK.json lists
# the same names with their direction and bounds.
END_TO_END = (
    ("setup_s", "s"),
    ("cpu_ms_per_unit", "ms"),
)
# Wall-clock throughput and op latency are printed for people but are
# not metrics: on a shared host whose CPU other tenants steal, their
# run-to-run spread exceeds any bound the benchmark may set (see
# metric_map.json).
WALL = (("work_per_s", "1/s"), ("op_p50_ms", "ms"))
SELF_TIMED = (
    "operators.vad_split_segments",
    "operators.snr_from_wav",
    "operators.classify_segments",
    "plans.ingest_relational_plan",
    "plans.channel_metadata_document",
    "sources.publish",
    "queries.doc_quality_score",
    "queries.semantic_dedup_keep",
    "queries.dedup_connected_components",
    "queries.corpus_joint_curation",
    "queries.leakage_safe_splits",
)
PER_LAYER = (
    *((f"{s}.self_s", "s") for s in SELF_TIMED),
    ("operators.segments", "count"),
    ("plans.segments_kept_ratio", "ratio"),
    ("queries.dedup_connected_components.jobs", "count"),
    ("layout.write_posting_lists.s", "s"),
    ("layout.write_positional_postings.s", "s"),
    ("layout.bm25_from_postings.p50_ms", "ms"),
    ("layout.phrase_from_postings.p50_ms", "ms"),
    ("layout.proximity_from_postings.p50_ms", "ms"),
    ("layout.and_ranked_from_postings.p50_ms", "ms"),
    ("layout.jobs_per_query", "count"),
    ("layout.files_read_per_query", "count"),
    ("layout.rows_read_per_result", "count"),
    ("queries.plan_ms_per_query", "ms"),
    ("streaming.maintain_posting_lists.batch_s", "s"),
    ("streaming.maintain_positional_postings.batch_s", "s"),
    ("streaming.jobs_per_batch", "count"),
    ("layout.mb_written_per_batch", "MB"),
    ("layout.files_written_per_batch", "count"),
    ("layout.compact.s", "s"),
    ("layout.compact.mb_rewritten", "MB"),
    ("layout.space_amp", "ratio"),
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("session.jobs", "count"),
    ("session.stages", "count"),
    ("session.tasks", "count"),
    ("session.exec_cpu_s", "s"),
    ("session.exec_run_s", "s"),
    ("session.gc_s", "s"),
    ("session.shuffle_read_mb", "MB"),
    ("session.shuffle_write_mb", "MB"),
    ("session.spill_mb", "MB"),
    ("session.driver_idle_s", "s"),
    ("session.unattributed_jobs", "count"),
    ("trace.overhead_s", "s"),
)


def host_info(cpus: int, heap_mb: int) -> dict:
    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    return {
        "cores": cpus,
        "heap_mb": heap_mb,
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem["MemAvailable"] // 1024,
        "loadavg": os.getloadavg(),
    }


def launcher_env(run_dir: str) -> tuple[int, int]:
    """Host-sized, reproducible Spark settings, exported before the JVM
    starts so the Spark driver JVM and its Python workers inherit them."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal")) // 1024
    # an eighth of physical memory, at most 2 GiB: ample for these
    # inputs, and most of a shared host stays free for its other users
    heap_mb = max(1024, min(total_mb // 8, 2048))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return cpus, heap_mb


def session_metrics(log, res: dict, spans: list[dict], n_ops: int) -> dict:
    """Engine counters over the measured window per workload pass,
    plus the jobs of traced calls that carry no job group."""
    tot = log.totals(log.jobs_in(res["start"], res["end"]))
    window = res["end"] - res["start"]
    top = [s for s in spans if s["parent"] is None and res["start"] <= s["start"] <= res["end"]]
    traced_jobs = {j for s in top for j in log.jobs_in(s["start"], s["end"])}
    return {
        "session.jobs": tot["jobs"] / n_ops,
        "session.stages": tot["stages"] / n_ops,
        "session.tasks": tot["tasks"] / n_ops,
        "session.exec_cpu_s": tot["cpu_s"] / n_ops,
        "session.exec_run_s": tot["run_s"] / n_ops,
        "session.gc_s": tot["gc_s"] / n_ops,
        "session.shuffle_read_mb": tot["shuffle_read"] / 1e6 / n_ops,
        "session.shuffle_write_mb": tot["shuffle_write"] / 1e6 / n_ops,
        "session.spill_mb": tot["spill"] / 1e6 / n_ops,
        "session.driver_idle_s": (window - log.busy_seconds(res["start"], res["end"])) / n_ops,
        "session.unattributed_jobs": sum(1 for j in traced_jobs if not log.jobs[j]["group"]) / n_ops,
    }


def span_metrics(tracer, log, n_traced: int) -> dict:
    """Self times per layer span and the per-read / per-batch job,
    file and row counts, attributed by each span's time window."""
    selfs = tracer.self_times()
    out = {}
    for name in SELF_TIMED:
        out[f"{name}.self_s"] = sum(selfs[s["id"]] for s in tracer.spans if s["name"] == name) / max(n_traced, 1)

    def jobs(names):
        return [j for s in tracer.spans if s["name"] in names for j in log.jobs_in(s["start"], s["end"])]

    cc = [s for s in tracer.spans if s["name"] == "queries.dedup_connected_components"]
    out["queries.dedup_connected_components.jobs"] = len(jobs({"queries.dedup_connected_components"})) / max(len(cc), 1)

    reads = [s for s in tracer.spans if "results" in s["attrs"]]
    if reads:
        rj = jobs({s["name"] for s in reads})
        tot = log.totals(rj)
        results = sum(s["attrs"]["results"] for s in reads)
        out["layout.jobs_per_query"] = len(rj) / len(reads)
        out["layout.files_read_per_query"] = tot["files_read"] / len(reads)
        out["layout.rows_read_per_result"] = tot["scan_rows"] / max(results, 1)
        out["queries.plan_ms_per_query"] = statistics.mean(s["attrs"]["plan_ms"] for s in reads)
    names = {"streaming.maintain_posting_lists", "streaming.maintain_positional_postings"}
    batches = sum(1 for s in tracer.spans if s["name"] == "streaming.maintain_posting_lists")
    if batches:
        out["streaming.jobs_per_batch"] = len(jobs(names)) / batches
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import se_data_pipeline_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, run_id)
    os.makedirs(run_dir)
    try:
        return run(args, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_id: str, run_dir: str) -> int:
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    cpus, heap_mb = launcher_env(run_dir)
    host_start = host_info(cpus, heap_mb)
    rss = tracing.RssSampler()
    rss.start()
    trace = bool(args.trace)
    log_dir = os.path.join(run_dir, "eventlog")
    extra = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        os.makedirs(log_dir)
        extra.update(tracing.EVENT_LOG_CONF)
        extra["spark.eventLog.dir"] = "file://" + log_dir

    from se_data_pipeline_spark.session import get_spark

    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
    spark.range(1).count()
    session_start_s = time.perf_counter() - t_setup
    gateway = spark.sparkContext._gateway
    tracer = tracing.Tracer(spark, run_id, trace)
    wl = WORKLOADS[args.workload](spark, os.path.join(run_dir, "data"), args.seed, tracer)
    attempted = failed = 0
    fails: list[str] = []
    res = None
    try:
        os.makedirs(wl.work)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        try:
            cpu0 = tracing.tree_cpu_seconds(os.getpid())
            res = wl.measure(args.seconds, trace)
            cpu_s = tracing.tree_cpu_seconds(os.getpid()) - cpu0
        except Exception:
            traceback.print_exc()
            failed += 1
        if res is not None:
            attempted += len(res["lat"])
            try:
                fails = wl.check()
            except Exception as exc:
                traceback.print_exc()
                fails = [f"check raised {exc!r}"]
            for f in fails:
                print("CHECK FAILED:", f)
            failed += len(fails)
            attempted += len(fails)
        layer = wl.layer_metrics() if res is not None else {}
    finally:
        spark.stop()
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        tracing.wait_for_children(timeout=60)
    peak_rss = rss.stop()

    if res is None:
        print("perfbench: the measured operations failed; no result", file=sys.stderr)
        return 1
    lat = res["lat"]
    e2e = {
        "setup_s": setup_s,
        "cpu_ms_per_unit": cpu_s * 1000 / res["work"],
    }
    wall = {
        "work_per_s": res["work"] / (res["end"] - res["start"]),
        "op_p50_ms": statistics.median(lat) * 1000,
    }
    if trace:
        log = tracing.EventLog(os.path.join(log_dir, os.listdir(log_dir)[0]))
        values = {name: 0.0 for name, _ in PER_LAYER}
        values.update(layer)
        passes, traced_passes = wl.passes(res)
        values.update(span_metrics(tracer, log, traced_passes))
        values.update(session_metrics(log, res, tracer.spans, passes))
        values["session.start_s"] = session_start_s
        values["session.peak_rss_mb"] = peak_rss / 2**20
        traced = [x for x, t in zip(lat, res["traced"]) if t]
        plain = [x for x, t in zip(lat, res["traced"]) if not t]
        values["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain)) if traced and plain else 0.0
        tracer.write(os.path.join(WORK, "traces", f"{run_id}.jsonl"))
        units = dict(PER_LAYER)
    else:
        values, units = e2e, dict(END_TO_END)

    host_end = host_info(cpus, heap_mb)
    print(json.dumps({"host_start": host_start, "host_end": host_end, "ops": len(lat), "work_unit": wl.unit}))
    for name, value in values.items():
        print(f"{name:48s} {value:14.6f} {units[name]}")
    for name, unit in WALL:
        print(f"{name + ' (wall, not a metric)':48s} {wall[name]:14.6f} {unit}")
    print("check:", "ok" if not fails else f"{len(fails)} failed")
    print(
        json.dumps(
            {
                "correct": not fails and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
