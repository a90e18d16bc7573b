"""Repository benchmark: streaming CDC workloads with oracle checks.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 10 --trace 0

Prints the workload's end-to-end metrics as ``metric <name> <value>
<unit>`` lines, then, as the last line, one JSON object: ``{"correct",
"attempted", "failed", "metrics"}``. With ``--trace 0`` its
``metrics`` are the end-to-end metrics (``E2E``); ``--trace 1`` runs
the workload untraced and then again traced (Spark event log, a
streaming listener, job groups) and its ``metrics`` are the per-layer
metrics, the tracing overhead per end-to-end metric and a
single-threaded (``local[1]``) baseline. Everything the run writes
stays under ``.perfbench_run/`` in the repository root. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

#: end-to-end metrics every workload reports (BENCHMARK.json's end_to_end)
E2E = ("setup_s", "peak_rss_mb", "throughput_per_s", "latency_p50_s", "latency_p90_s")


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "flink_precisely_demo_spark", "__init__.py"))


class Context:
    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.cache = os.path.join(RUN_DIR, "cache")
        self.work = os.path.join(RUN_DIR, "work", f"{args.workload}-{args.seed}")
        self.spark = None

    def job_group(self, group: str, description: str) -> None:
        if self.spark is not None and self.traced:
            self.spark.sparkContext.setJobGroup(group, description)

    traced = False


def _env() -> None:
    """Driver and worker environment, set before the JVM starts, so
    that every run gets the same heap and writes only under RUN_DIR."""
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher too: temp files under RUN_DIR
    # and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the engine from the repository root
    path = os.environ.get("PYTHONPATH", "")
    if ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def launch(ctx: Context, cpus: int, event_log: str | None):
    from flink_precisely_demo_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.environ["TMPDIR"],
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    ctx.spark = spark
    return spark


def shutdown(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()        # the gateway JVM exits on stdin EOF
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def one_pass(ctx: Context, workload, cpus: int, traced: bool, import_s: float):
    """Set up a session, warm it, run the timed phase. Returns the
    end-to-end report (name -> (value, unit, meaning)), the outcome,
    the host sampler and (traced) the per-layer metrics."""
    from host import HostSampler
    from tracing import Spans

    spans = Spans()
    event_log = os.path.join(ctx.work, "eventlog") if traced else None
    ctx.traced = traced
    listener = None
    with spans.span(workload.name, "workload"):
        with spans.span("setup", "phase"):
            t0 = time.time()
            spark = launch(ctx, cpus, event_log)
            t1 = time.time()
            if traced:
                listener = _listener(spark)
            with spans.span("warm", "phase"):
                workload.warm(spark)
            warm_s = time.time() - t1
        try:
            with HostSampler(jvm_pid()) as host:
                out = workload.run(spark, spans)
            probes = None
            if traced:
                from workloads import probes as run_probes
                files, address = workload.probe_files()
                ctx.job_group("perfbench-probes", "layer probes")
                probes = run_probes(spark, files, address)
        finally:
            shutdown(spark)
    get_spark_s = t1 - t0
    report = {
        "setup_s": (import_s + get_spark_s + warm_s, "s",
                    f"imports {import_s:.2f} + session launch {get_spark_s:.2f} "
                    f"+ warm-up {warm_s:.2f}"),
        "peak_rss_mb": (host.peak_rss / 2**20, "MB",
                        "driver JVM + Python workers over the timed phase"),
        **out.report,
    }
    record = None
    if traced:
        record = _layers(ctx, workload, spans, out, listener, probes,
                         get_spark_s, warm_s, host, event_log)
    return report, out, host, record


def _listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def _layers(ctx, workload, spans, out, listener, probes, get_spark_s,
            warm_s, host, event_log) -> dict:
    from tracing import attach_jobs, layer_metrics, parse_event_log, progress_wall, read_event_log

    progress = listener.progress
    triggers = {}
    for p in progress:
        start, end = progress_wall(p)
        triggers[(p["runId"], str(p["batchId"]))] = spans.add(
            f"trigger {p['name'] or p['id']}#{p['batchId']}", "operation",
            start, end, None)
    # a trigger's parent is the innermost benchmark span around it
    for sid in triggers.values():
        s = spans.spans[sid]
        around = [o for o in spans.spans[:sid] if o["kind"] != "operation"
                  or o.get("group")]
        around = [o for o in around if o["start"] <= s["start"] <= o["end"]]
        s["parent"] = max(around, key=lambda o: o["start"])["id"] if around else 0
    log = parse_event_log(read_event_log(event_log))
    attach_jobs(spans, log, triggers)
    lo, hi = out.window
    timed_triggers = [i for i in triggers.values() if lo <= spans.spans[i]["start"] <= hi]
    metrics = layer_metrics(spans, log, progress, out.window, out.ops + timed_triggers)
    metrics.update(probes)
    # jobs started inside the plan-building calls, before any trigger
    build_ops = [spans.spans[i] for i in out.ops
                 if spans.spans[i]["name"] in ("build",) or spans.spans[i]["name"].startswith("replay")]
    trig_spans = [(spans.spans[i]["start"], spans.spans[i]["end"]) for i in triggers.values()]
    from tracing import union_length
    eager = [j for j in log["jobs"].values()
             if j["batch"] is None and any(o["start"] <= j["submit"] <= o["end"] for o in build_ops)]
    metrics["plans.eager_jobs"] = len(eager) / max(len(build_ops), 1)
    metrics["plans.build_s"] = sum(
        (o["end"] - o["start"]) - union_length(trig_spans, o["start"], o["end"])
        for o in build_ops) / max(len(build_ops), 1)
    metrics["session.get_spark_s"] = get_spark_s
    metrics["session.warmup_s"] = warm_s
    metrics["streaming.source_backlog_files"] = max(
        [int(s.get("metrics", {}).get("numFilesOutstanding", 0) or 0)
         for p in progress for s in p.get("sources", [])] or [0])
    metrics["generator.late_max_s"] = out.context["generator.late_max_s"]
    metrics["generator.offered_orders_per_s"] = out.context["generator.offered_orders_per_s"]
    metrics["host.steal_pct"] = host.steal_pct
    metrics["host.loadavg_max"] = host.loadavg_max
    spans.dump(os.path.join(ctx.work, "spans.json"))
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not _program_present():
        print(f"perfbench: the engine package is missing under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _env()
    import shutil

    from host import process_age_s
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    import_s = process_age_s()
    ctx = Context(args)
    # only the latest run's work directory (checkpoints, event log,
    # spans) is kept
    shutil.rmtree(os.path.dirname(ctx.work), ignore_errors=True)
    os.makedirs(ctx.work)
    cpus = len(os.sched_getaffinity(0))
    workload = workloads.WORKLOADS[args.workload](ctx)

    e2e, out, host, _ = one_pass(ctx, workload, cpus, False, import_s)
    attempted, failed, problems = out.attempted, out.failed, out.problems
    print(f"# {args.workload} seed={args.seed} cpus={cpus} seconds={args.seconds}")
    _print_report(e2e, out)
    print(f"context steal_pct={host.steal_pct:.3f} loadavg_max={host.loadavg_max:.2f} "
          f"generator_late_max_s={out.context['generator.late_max_s']:.4f}")
    metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in E2E}

    if args.trace:
        e2e_t, out_t, _, layers = one_pass(ctx, workload, cpus, True, import_s)
        print("# traced pass")
        _print_report(e2e_t, out_t)
        attempted += out_t.attempted
        failed += out_t.failed
        problems += out_t.problems
        for k in E2E:
            layers[f"overhead.{k}"] = e2e_t[k][0] - e2e[k][0]
        for k, v in layers.items():
            print(f"layer {k} {v:.6g} {_unit(k)}")
        if workload.baseline is not None:
            spark = launch(ctx, 1, None)
            try:
                local1 = workload.baseline(spark)
            finally:
                shutdown(spark)
            print(f"baseline local1_throughput_per_s {local1:.6g} 1/s")
            print(f"baseline speedup {e2e['throughput_per_s'][0] / local1:.6g} ratio  "
                  f"# untraced throughput_per_s on {cpus} cpus / local[1]")
        # the contract's traced record holds the per-layer metrics only;
        # the end-to-end figures of both passes are the metric lines above
        metrics = {k: {"value": float(v), "unit": _unit(k)} for k, v in layers.items()}

    for p in problems:
        print(f"problem: {p}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _print_report(report: dict, out) -> None:
    for name, (v, unit, meaning) in report.items():
        print(f"metric {name} {v:.6g} {unit}  # {meaning}")
    print(f"metric error_rate {out.failed / out.attempted:.6g} ratio  "
          f"# {out.failed} failed of {out.attempted} checked")


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("_worker"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "share", "skew")):
        return "ratio"
    if name.endswith("_pct"):
        return "%"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
