"""The repo benchmark: one workload per run, one closed-loop client, checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It builds nothing: the engine is the
``traffic_accidents_airflow_kafka_spark`` package next to this directory,
and every input is generated from ``--seed`` under ``.perfbench_work/``,
which is removed again at exit.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of ``PER_LAYER``. The line
before the result is a report with every sample, the environment, the
workload-specific metric names and, when traced, per-span execution
metrics. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import ExitStack, contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Input generation is repeated this many times per run; set-up time takes
#: the median of the repeats.
GEN_REPEATS = 3

#: Per-layer metrics of a traced run and their units, in report order. A
#: layer the workload does not exercise reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.scan_bytes": "bytes",
    "sources.scan_records": "count",
    "sources.write_bytes": "bytes",
    "sources.rows_written": "count",
    "sources.memoized_write_s": "s",
    "sources.upsert_s": "s",
    "functions.python_total_s": "s",
    "functions.python_boot_s": "s",
    "functions.python_rows": "count",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_received": "bytes",
    "pipeline.ingest_s": "s",
    "pipeline.osm_summary_s": "s",
    "pipeline.merge_s": "s",
    "pipeline.dims_s": "s",
    "pipeline.fact_s": "s",
    "pipeline.fk_check_s": "s",
    "pipeline.self_s": "s",
    "pipeline.load_s": "s",
    "pipeline.replay_s": "s",
    "plans.build_s": "s",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    "plans.jobs_per_query": "count",
    "streaming.env_s": "s",
    "streaming.parse_s": "s",
    "streaming.drain_wall_s": "s",
    "streaming.merge_s": "s",
    **{f"streaming.topic_s.{t}": "s" for t in (
        "transit_signals_by_state", "signals_vs_lesions", "weather_light_surface",
        "accidents_by_time", "lesions_by_county", "hospitals_schools_vs_lesions",
        "crossings_vs_lesions",
    )},
    "streaming.micro_batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.single_task_stages": "count",
    "spark.skipped_stages": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.parallelism": "ratio",
    "spark.driver_gap_s": "s",
    "spark.failed_tasks": "count",
    "spark.failed_jobs": "count",
    "failed_share": "ratio",
    "trace.op_p50_s": "s",
    "trace.hooks_s": "s",
}


def cpu_times() -> list[int]:
    """The machine's CPU time counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def nearest_rank(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class RssSampler(threading.Thread):
    """Peak resident memory of this process's descendants (the Spark JVM
    and its Python workers), sampled from /proc every 100 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_event = threading.Event()

    @staticmethod
    def _descendants(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], list(children.get(root, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> int:
        total = 0
        for pid in self._descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def run(self):
        while not self._stop_event.wait(0.1):
            self.peak_kb = max(self.peak_kb, self.sample())

    def stop(self):
        self._stop_event.set()
        self.join()


@contextmanager
def pipeline_markers(tracer):
    """Trace the stages ``pipeline.job.run_pipeline`` runs by wrapping,
    for the duration of the run, the module attributes it calls. Each
    stage entry point leaves a mark; the sources-layer writers get spans."""
    from traffic_accidents_airflow_kafka_spark.pipeline import ingest, job, merge, osm

    def marking(fn, stage):
        def wrapper(*a, **kw):
            tracer.mark(stage)
            return fn(*a, **kw)
        return wrapper

    def spanning(fn, name):
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)
        return wrapper

    patches = [
        (ingest, "read_accidents_csv", marking, "ingest"),
        (osm, "build_bbox_summary", marking, "osm_summary"),
        (merge, "merge_accidents", marking, "merge"),
        (job, "build_dimensions", marking, "dims"),
        (job, "build_fact", marking, "fact"),
        (job, "fk_integrity_report", marking, "fk_check"),
        (job, "memoized_write", spanning, "sources.memoized_write"),
        (job, "upsert_append", spanning, "sources.upsert"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in patches]
    for mod, attr, wrap, label in patches:
        setattr(mod, attr, wrap(getattr(mod, attr), label))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it. The JVM
    exits when its stdin closes, also when a signal cut a gateway call
    short and left the connection unusable for a clean stop."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:
        traceback.print_exc()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def layer_metrics(spark, tracer, listener, samples, since_ms, end_ms, cores, session_s, after_info):
    """Per-layer metrics of the timed phase, per operation unless named
    otherwise (see README.md)."""
    import tracing as tr

    jobs = tr.read_jobs(spark, 0)  # the checks after the timed phase too
    n = max(1, len(samples))
    # Execution metrics cover the jobs inside the operations' own spans, so
    # a workload's checks (the dashboard's batch twins) do not count.
    op_spans = [s for s in tracer.spans if s.attrs.get("kind") == "op"]
    op_jobs = [j for s in op_spans for j in tr.jobs_in(jobs, s.start_ms, s.end_ms)]
    ex = tr.spark_metrics(op_jobs, sum(s.seconds for s in op_spans), cores)
    intervals = [(j.start_ms, j.end_ms) for j in jobs]
    gap_s = sum(s.end_ms - s.start_ms - tr.busy_ms(intervals, s.start_ms, s.end_ms) for s in op_spans) / 1000.0
    py = tr.read_python_metrics(spark, since_ms)
    m: dict[str, float] = {"session.start_s": session_s}
    for k in ("scan_bytes", "scan_records", "write_bytes", "rows_written"):
        m[f"sources.{k}"] = ex[k] / n
    writes = tracer.named("sources.memoized_write")
    upserts = tracer.named("sources.upsert")
    m["sources.memoized_write_s"] = sum(s.seconds for s in writes) / n
    m["sources.upsert_s"] = sum(s.seconds for s in upserts) / n
    for k, v in py.items():
        m[f"functions.{k}"] = v / n

    # pipeline: stage spans run from one stage's mark to the next, the last
    # one to the end of its pipeline run.
    stages = ("ingest", "osm_summary", "merge", "dims", "fact", "fk_check")
    stage_s = dict.fromkeys(stages, 0.0)
    runs = [s for s in tracer.spans if s.name.endswith(":load")]
    for run in runs:
        marks = [(t, name) for name, t in tracer.marks if run.start_ms <= t <= run.end_ms]
        bounds = [t for t, _ in marks[1:]] + [run.end_ms]
        for (t, name), t_end in zip(marks, bounds):
            stage_s[name] += (t_end - t) / 1000.0
    for k in stages:
        m[f"pipeline.{k}_s"] = stage_s[k] / n
    busy = sum(tr.busy_ms(intervals, r.start_ms, r.end_ms) for r in runs)
    m["pipeline.self_s"] = (sum(r.end_ms - r.start_ms for r in runs) - busy) / 1000.0 / n
    m["pipeline.load_s"] = sum(s.seconds for s in runs) / n
    m["pipeline.replay_s"] = after_info.get("replay_s", 0.0)

    # plans: analyst query spans carry their build and plan split.
    queries = [s for s in tracer.spans if "build_s" in s.attrs]
    nq = max(1, len(queries))
    m["plans.build_s"] = sum(s.attrs["build_s"] for s in queries) / nq
    m["plans.plan_s"] = sum(s.attrs["plan_s"] for s in queries) / nq
    m["plans.exec_s"] = sum(s.seconds - s.attrs["build_s"] - s.attrs["plan_s"] for s in queries) / nq
    m["plans.jobs_per_query"] = (
        sum(len(tr.jobs_in(jobs, s.start_ms, s.end_ms)) for s in queries) / nq if queries else 0.0
    )

    # streaming: the fan-out's own run metadata and the listener's progress.
    metas = [s.detail["meta"] for s in samples if "meta" in s.detail]
    for key, name in (("env_sec", "env_s"), ("parse_sec", "parse_s"),
                      ("drain_wall_sec", "drain_wall_s"), ("merge_sec", "merge_s")):
        m[f"streaming.{name}"] = sum(x.get(key, 0.0) for x in metas) / n
    for key in PER_LAYER:
        if key.startswith("streaming.topic_s."):
            t = key.rsplit(".", 1)[1]
            m[key] = sum(x.get("topic_sec", {}).get(t, 0.0) for x in metas) / n
    prog = [p for t, p in listener.progress if since_ms <= t <= end_ms] if listener else []
    m["streaming.micro_batches"] = len(prog) / n
    m["streaming.input_rows"] = sum(p["input_rows"] for p in prog) / n
    for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                      ("queryPlanning", "query_planning_ms"), ("latestOffset", "latest_offset_ms"),
                      ("walCommit", "wal_commit_ms")):
        m[f"streaming.{name}"] = sum(p.get(key, 0) for p in prog) / n

    for k in ("jobs", "stages", "tasks", "single_task_stages", "skipped_stages",
              "executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "failed_tasks", "failed_jobs"):
        m[f"spark.{k}"] = ex[k] / n
    m["spark.parallelism"] = ex["parallelism"]
    m["spark.driver_gap_s"] = gap_s / n

    # Per-span execution metrics for the report line (not in the result).
    by_span: dict[str, dict] = {}
    for s in tracer.spans:
        if ":" not in s.name:
            continue
        key = s.name.split(":", 1)[1]
        agg = by_span.setdefault(key, {"wall_s": 0.0, "count": 0, "jobs": []})
        agg["wall_s"] += s.seconds
        agg["count"] += 1
        agg["jobs"] += tr.jobs_in(jobs, s.start_ms, s.end_ms)
    spans = {
        k: {"count": v["count"], "wall_s": v["wall_s"],
            **tr.spark_metrics(v["jobs"], v["wall_s"], cores)}
        for k, v in by_span.items()
    }
    return m, spans


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "traffic_accidents_airflow_kafka_spark")):
        print("perfbench: the engine package is not next to this directory", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    import tracing as tr

    # On SIGTERM unwind through the finally below: stop the JVM, remove work.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # The one program setting the benchmark makes; the rest keep Spark's
    # local directories, temp files and warehouse inside the checkout.
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-XX:-UsePerfData",  # no /tmp/hsperfdata_<user> file
    )))
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.chdir(work)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        from traffic_accidents_airflow_kafka_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.perf_counter() - t_start

        tracer = tr.Tracer(spark, enabled=bool(args.trace))
        listener = None
        if args.trace:
            listener = tr.ProgressListener()
            spark.streams.addListener(listener)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        gen_s = []
        for k in range(GEN_REPEATS):
            into = os.path.join(work, f"inputs_{k}")
            t0 = time.perf_counter()
            wl.generate(into)
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        setup_info = wl.setup()
        prepare_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + prepare_s

        samples: list = []
        with ExitStack() as stack:
            if args.trace and args.workload == "etl_load":
                stack.enter_context(pipeline_markers(tracer))
            since_ms = tr.now_ms()
            hooks0 = tracer.hooks_s
            t_meas = time.perf_counter()
            ops = 0
            while True:
                t_op = time.perf_counter()
                try:
                    samples += wl.op()
                except Exception as exc:  # a failed operation is a result
                    traceback.print_exc()
                    samples.append(workloads.Sample(
                        "error", time.perf_counter() - t_op, False, repr(exc)
                    ))
                ops += 1
                if ops >= wl.min_ops and time.perf_counter() - t_meas >= args.seconds:
                    break
            end_ms = tr.now_ms()
        after_info, after_err = wl.after(bool(args.trace))
        if after_err:
            print(f"perfbench: {after_err}", file=sys.stderr)

        lat = [s.seconds for s in samples]
        failed = sum(1 for s in samples if not s.ok)
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "ops_per_s": (len(samples) / sum(lat), "1/s"),
        }
        peak_rss_mb = max(sampler.peak_kb, sampler.sample()) / 1024.0
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "samples": [
                {"name": s.name, "seconds": s.seconds, "ok": s.ok, "error": s.error,
                 **{k: v for k, v in s.detail.items() if k.endswith("_s")}}
                for s in samples
            ],
            "failed_share": failed / len(samples),
            "workload_metrics": workload_metrics(args.workload, samples, setup_info, after_info),
            "peak_rss_mb": peak_rss_mb,
            "setup": {"session_s": session_s, "generate_s": gen_s, "prepare_s": prepare_s,
                      **setup_info},
            "env": {
                "nproc": cores,
                "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory"),
                "jvm_max_heap_mb": spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
                "loadavg_start": load_start,
            },
        }
        if args.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            layers, spans = layer_metrics(
                spark, tracer, listener, samples, since_ms, end_ms, cores, session_s, after_info
            )
            layers["session.peak_rss_mb"] = peak_rss_mb
            layers["failed_share"] = report["failed_share"]
            layers["trace.op_p50_s"] = metrics["op_p50_s"][0]
            layers["trace.hooks_s"] = (tracer.hooks_s - hooks0) / len(samples)
            report["spans"] = spans
            out_metrics = {k: (layers[k], unit) for k, unit in PER_LAYER.items()}
        else:
            out_metrics = metrics
        report["env"]["loadavg_end"] = os.getloadavg()[0]
        # Share of the machine's CPU time the hypervisor gave to others.
        d = [b - a for a, b in zip(cpu_start, cpu_times())]
        report["env"]["steal_share"] = d[7] / max(1, sum(d))
        result = {
            "correct": failed == 0 and not after_err,
            "attempted": len(samples),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()},
        }
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            sampler.stop()
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


def workload_metrics(workload: str, samples, setup_info: dict, after_info: dict) -> dict:
    """The end-to-end metrics under their workload-specific names."""
    def median(xs):
        return statistics.median(xs) if xs else None

    ok = [s for s in samples if s.ok]
    lat = [s.seconds for s in ok]
    if workload == "etl_load":
        return {
            "load_p50_s": median(lat),
            "cold_load_s": setup_info["cold_load_s"],
            **after_info,
        }
    if workload == "dashboard_refresh":
        return {"refresh_p50_s": median(lat)}
    return {
        "query_p50_s": median(lat),
        "query_p90_s": nearest_rank(lat, 0.9) if lat else None,
        "queries_per_s": len(samples) / sum(s.seconds for s in samples),
    }


if __name__ == "__main__":
    sys.exit(main())
