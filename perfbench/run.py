"""Seeded micro-batch benchmark for polars_incremental_spark.

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout, on ``local[$SPARK_GRAFT_CPUS]`` (default:
the CPUs this process may use), with one client in a closed loop.  The
amount of work in the timed section is ``--seconds`` times a per-workload
rate fixed in ``perfbench/workloads.json``, so it depends only on the
arguments; with ``--seconds 15`` it takes 10-25 s on a 4-core machine.

Every file the run writes lives under ``.perfbench_work/`` in the checkout
(temporary files, Spark local dirs, warehouse, event log) and is removed at
the end, apart from the traced run's span dump.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the timed
section twice on fresh state, untraced and then traced, and prints the
per-layer metrics, ``trace.overhead_s`` being the difference of the two.
Metric names and units come from ``BENCHMARK.json``.  The last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# set-up (inputs + fresh state) is repeated and its median reported, so one
# slow repetition does not move ``setup_s``
SETUP_REPS = 3


def _isolate(work: str) -> None:
    """Point every scratch location Spark and Python use inside ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as handle:
                    ppid = int(handle.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _stop(spark) -> None:
    """Stop Spark, then the JVM and every process it started, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spawned = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while spawned and time.monotonic() < deadline:
        spawned = [p for p in spawned if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in spawned:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _gc_ms(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as handle:
        for line in handle:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# per-layer metric -> (span names, what to average over those spans: their
# duration or one counter delta)
SPAN_METRICS = {
    "checkpoints.file.plan_s": (("checkpoints.file.plan",), "duration"),
    "checkpoints.file.json_reads_per_plan": (("checkpoints.file.plan",), "ckpt_json_reads"),
    "checkpoints.file.commit_s": (("checkpoints.file.commit",), "duration"),
    "sources.file.read_s": (("sources.file.read",), "duration"),
    "sources.file.jobs_per_read": (("sources.file.read",), "jobs"),
    "schema.apply_s": (("schema.apply",), "duration"),
    "sinks.deltalog.append_s": (("sinks.deltalog.append",), "duration"),
    "sinks.deltalog.log_opens_per_append": (("sinks.deltalog.append",), "log_opens"),
    "sinks.deltalog.log_listings_per_append": (("sinks.deltalog.append",), "log_listings"),
    "sinks.deltalog.jobs_per_append": (("sinks.deltalog.append",), "jobs"),
    "sinks.deltalog.stages_per_append": (("sinks.deltalog.append",), "stages"),
    "sinks.delta.apply_cdc_s": (("sinks.delta.apply_cdc",), "duration"),
    "sinks.delta.jobs_per_merge": (("sinks.delta.apply_cdc",), "jobs"),
    "sinks.delta.log_opens_per_merge": (("sinks.delta.apply_cdc",), "log_opens"),
    "sinks.delta.log_listings_per_merge": (("sinks.delta.apply_cdc",), "log_listings"),
    "mv.refresh_agg_s": (("mv.refresh_agg",), "duration"),
    "mv.refresh_join_s": (("mv.refresh_join",), "duration"),
    "mv.jobs_per_refresh": (("mv.refresh_agg", "mv.refresh_join"), "jobs"),
    "mv.log_opens_per_refresh": (("mv.refresh_agg", "mv.refresh_join"), "log_opens"),
    "checkpoints.delta.plan_s": (("checkpoints.delta.plan",), "duration"),
    "checkpoints.delta.log_opens_per_plan": (("checkpoints.delta.plan",), "log_opens"),
    "sources.delta.read_s": (("sources.delta.read",), "duration"),
    "queries.build_s": (("queries.build",), "duration"),
}


def _layer_metrics(spans, res, res_untraced, extra) -> dict[str, float]:
    """The per-layer metrics of the layers this run went through; a layer
    the workload does not call has no spans and no entry."""
    from perfbench.trace import batch_overheads, durations, growth, mean

    out: dict[str, float] = {}
    for metric, (names, what) in SPAN_METRICS.items():
        hits = [s for s in spans if s["name"] in names and s["end"] is not None]
        if hits:
            out[metric] = mean([s["end"] - s["start"] if what == "duration" else s[what] for s in hits])
    if overheads := batch_overheads(spans):
        out["pipeline.overhead_s"] = mean(overheads)
    if plans := durations(spans, "checkpoints.file.plan"):
        out["checkpoints.file.plan_growth"] = growth(plans)
    for q in {s["name"] for s in spans if s["name"].startswith("query.")}:
        out[f"{q}.jobs"] = mean([s["jobs"] for s in spans if s["name"] == q])
        out[f"{q}.stages"] = mean([s["stages"] for s in spans if s["name"] == q])
    out["trace.overhead_s"] = res.wall_s - res_untraced.wall_s
    out.update(res.layer)
    out.update(extra)
    return out


def _unit(name: str) -> str:
    """Unit of a per-layer metric that BENCHMARK.json does not declare."""
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_amp", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    parser.add_argument("--sizes", help=argparse.SUPPRESS)  # JSON overrides (smoke test)
    args = parser.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as handle:
        bench = json.load(handle)
    with open(os.path.join(ROOT, "perfbench", "workloads.json")) as handle:
        spec = json.load(handle)
    if args.workload not in spec:
        parser.error(f"unknown workload {args.workload!r}; expected one of {sorted(spec)}")
    sizes = {**spec[args.workload]["sizes"], **json.loads(args.sizes or "{}")}

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    sys.path.insert(0, ROOT)
    try:
        import perfbench.workloads  # noqa: F401  (imports the package under test)
    except ImportError:
        traceback.print_exc()
        print("perfbench: the package under test is not importable from this checkout", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    try:
        return _measure(args, bench, spec, sizes, work, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, bench: dict, spec: dict, sizes: dict, work: str, work_root: str) -> int:
    """Set up, run the timed section(s), check, and print the result."""
    from perfbench.stats import median, tail
    from perfbench.trace import Tracer, event_log_stats, self_times
    from perfbench.workloads import CLASSES
    from polars_incremental_spark.session import get_spark

    events = os.path.join(work, "events")
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if args.trace:
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    extra: dict[str, float] = {}
    try:
        wl = CLASSES[spec[args.workload]["class"]](spark, work, args.seed, args.seconds, sizes)
        reps = []
        for _ in range(SETUP_REPS):
            r0 = time.perf_counter()
            wl.setup_rep()
            reps.append(time.perf_counter() - r0)
        w0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - w0

        state = wl.states[-1]
        res = wl.run(state, Tracer(spark, enabled=False))
        attempted, failed, problems = wl.check(state)
        res_untraced = res
        if args.trace:
            tracer = Tracer(spark, enabled=True, checkpoint_roots=(work,))
            state = wl.prepare("traced")
            gc0 = _gc_ms(spark)
            tracer.install_io_hooks()
            try:
                res = wl.run(state, tracer)
            finally:
                tracer.remove_io_hooks()
            extra["jvm.gc_ms"] = _gc_ms(spark) - gc0
            a, f, p = wl.check(state)
            attempted, failed, problems = attempted + a, failed + f, problems + p
        corruption_found = None
        if args.corrupt:
            wl.corrupt(state)
            a, f, p = wl.check(state)
            corruption_found = bool(set(p) - set(problems))
            attempted, failed, problems = attempted + a, failed + f, problems + p
        extra["memory.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    finally:
        _stop(spark)
    extra["memory.peak_rss_mb"] = (
        extra.get("memory.jvm_peak_rss_mb", 0.0)
        + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    )

    lines = [f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}"]
    if args.trace:
        for op, row in event_log_stats(events).items():
            extra[f"query.{op}.shuffle_mb"] = row["shuffle_mb"]
            extra[f"query.{op}.task_skew"] = row["task_skew"]
        computed = _layer_metrics(tracer.spans, res, res_untraced, extra)
        declared = bench["per_layer"]
        dump = os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(dump)
        lines.append(f"spans: {len(tracer.spans)} written to {os.path.relpath(dump, ROOT)}")
        lines.append("self time by span (s):")
        for name, secs in sorted(self_times(tracer.spans).items(), key=lambda kv: -kv[1])[:15]:
            lines.append(f"  {name:40s} {secs:9.3f}")
    else:
        pct, tail_s = tail(res.latencies)
        computed = {
            "setup_s": session_s + median(reps) + warmup_s,
            "wall_s": res.wall_s,
            "batch_p50_s": median(res.latencies),
            "batch_tail_s": tail_s,
            "rows_per_s": res.rows / res.wall_s,
        }
        declared = bench["end_to_end"]
        lines.append(
            f"setup: session {session_s:.3f} s + median of {len(reps)} input/state reps "
            f"{[round(r, 3) for r in reps]} + warm-up {warmup_s:.3f} s"
        )
        lines.append(f"requests: {len(res.latencies)}; batch_tail_s is p{pct:.0f} of {len(res.latencies)} samples")
        for name, value in sorted(res.layer.items()):
            if name.endswith(".wall_s"):
                lines.append(f"  {name:43s} {value:14.6f} s")
    # The result line carries every declared metric.  A layer this workload
    # does not call reads 0 there and "not run" here; a metric of a layer no
    # gated workload calls is printed here only.
    metrics = {m["name"]: {"value": float(computed.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}
    for name, m in metrics.items():
        if name in computed:
            lines.append(f"{name:45s} {m['value']:14.6f} {m['unit']}")
        else:
            lines.append(f"{name:45s} {'not run':>14s}")
    for name in sorted(set(computed) - set(metrics)):
        lines.append(f"{name:45s} {computed[name]:14.6f} {_unit(name)} (not in BENCHMARK.json)")
    lines.append(f"{'error_rate':45s} {failed / max(1, attempted):14.6f} ratio ({failed} failed / {attempted} attempted)")
    if corruption_found is not None:
        lines.append(f"corrupted sink row detected: {'yes' if corruption_found else 'no'}")
    for p in problems[:30]:
        lines.append(f"CHECK FAILED: {p}")
    print("\n".join(lines))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
