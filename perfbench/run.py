"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds a SparkSession through
``dbt_repo_spark.session.get_spark`` on ``local[<usable cores>]``, runs one
workload (see ``workloads.py``) and prints, as the last line of stdout, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, and the spans go to ``.perfbench_out/``. All scratch files
live under ``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def declared_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; a run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def tail(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it. Below
    21 samples that percentile would not exceed the median, so short runs
    report the nearest-rank p90 (the slowest sample below 10)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) > 20:
        return xs[len(xs) - 11]
    return xs[math.ceil(0.9 * len(xs)) - 1]


def mean(xs) -> float:
    """CPU per operation is the timed operations' total over their count:
    JIT compilation moves CPU between operations, not in or out of them."""
    return sum(xs) / len(xs) if xs else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    import resource

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def make_session(trace: bool):
    from dbt_repo_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    # keep the JVM's scratch inside the checkout (-UsePerfData: no
    # hsperfdata file in the system temp dir)
    java_opts = (f"-Djava.io.tmpdir={WORK}/tmp "
                 f"-Dderby.system.home={WORK}/derby -XX:-UsePerfData "
                 # compiler threads live as long as the JVM, so
                 # workloads.cpu_s can leave out their CPU
                 "-XX:-UseDynamicNumberOfCompilerThreads")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{WORK}/spark-warehouse",
        "spark.local.dir": f"{WORK}/spark-local",
        "spark.driver.extraJavaOptions": java_opts,
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{WORK}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    for q in spark.streams.active:
        q.stop()
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def layer_metrics(names, wl_name, res, tracer, counters, cores) -> dict:
    """Per-layer metrics from the spans, the event-log counters and the
    workload's own layer numbers. A layer the workload never calls reads 0."""
    from perfbench.workloads import median

    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    timed = {s.op for s in spans if s.op is not None}
    n_ops = max(1, len(timed))

    def under(span, name):  # span or one of its ancestors is `name`
        while span is not None:
            if span.name == name:
                return True
            span = by_id.get(span.parent)
        return False

    def per_op(name, key=None):
        sel = [s for s in spans if s.op in timed and s.name == name]
        if key is None:
            return sum(s.end - s.start for s in sel) / n_ops
        return sum(s.attrs.get(key, 0) for s in sel) / n_ops

    m = dict.fromkeys(names, 0.0)
    m.update({k: v for k, v in res.layer.items() if k in m})
    m["ingest.busy_s"] = per_op("ingest")
    m["ingest.jobs"] = sum(counters.get(f"span-{s.id}", {}).get("jobs", 0)
                           for s in spans
                           if s.op in timed and under(s, "ingest")) / n_ops
    m["catalog.write.calls"] = len([s for s in spans if s.op in timed
                                    and s.name == "catalog.write"]) / n_ops
    m["catalog.write.busy_s"] = per_op("catalog.write")
    m["catalog.write.files"] = per_op("catalog.write", "files")
    m["catalog.write.bytes"] = per_op("catalog.write", "bytes")
    m["catalog.read.busy_s"] = per_op("catalog.read")
    m["catalog.exists.busy_s"] = per_op("catalog.exists")
    runners = [s for s in spans if s.op in timed and s.name == "runner"]
    m["runner.self_s"] = sum(tracer.self_time(s) for s in runners) / n_ops
    m["runner.model_build.busy_s"] = per_op("runner.model_build")
    offered = res.layer.get("runner.incremental.offered_rows", 0)
    appended = sum(s.attrs.get("rows", 0) for s in spans if s.op in timed
                   and s.name == "catalog.write"
                   and s.attrs.get("table", "").startswith("fact_station_status"))
    m["runner.incremental.append_ratio"] = appended / offered if offered else 0.0
    # per-model time: the set-up backfill's full build
    for s in spans:
        model = s.attrs.get("model")
        if (model and under(s, "backfill")
                and by_id[s.parent].attrs.get("model") != model):
            key = f"runner.model.{model}.s"
            m[key] = m.get(key, 0.0) + s.end - s.start
    tests = [s for s in spans if s.name == "testing.run_tests"]
    m["testing.busy_s"] = sum(s.end - s.start for s in tests)
    m["testing.tests_run"] = sum(s.attrs.get("run", 0) for s in tests)
    m["testing.tests_failed"] = sum(s.attrs.get("failed", 0) for s in tests)
    # Spark counters per operation: the job groups of the timed ops' spans,
    # or the stream's own job group per micro-batch
    if wl_name == "status_stream":
        groups = [res.layer["stream_job_group"]]
        denom = max(1, res.layer["stream.batches"])
    else:
        groups = [f"span-{s.id}" for s in spans if s.op in timed]
        denom = n_ops
    tot = {}
    for g in groups:
        for k, v in counters.get(g, {}).items():
            tot[k] = tot.get(k, 0) + v
    scaled = {"executor_run_ms": ("executor_run_s", 1e3),
              "executor_cpu_ns": ("executor_cpu_s", 1e9),
              "gc_ms": ("gc_s", 1e3)}
    for k, v in tot.items():
        name, div = scaled.get(k, (k, 1))
        m[f"spark.{name}"] = v / div / denom
    busy_s = tot.get("executor_run_ms", 0) / 1e3
    m["spark.slot_util"] = busy_s / (res.ops_wall_s * cores) if res.ops_wall_s else 0.0
    m["trace.self_s"] = tracer.self_s
    m["trace.overhead_frac"] = tracer.self_s / res.ops_wall_s if res.ops_wall_s else 0.0
    m["trace.spans"] = len(spans)
    m["trace.op_cpu_s"] = mean(res.op_cpu)
    m["latency.op_p50_s"] = median(res.ops)
    m["latency.op_tail_s"] = tail(res.ops)
    m["latency.rows_per_s"] = res.rows_per_s
    undeclared = set(m) - set(names)
    if undeclared:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer, spark_counters
    from perfbench.workloads import WORKLOADS, log, median

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    spark, cores = make_session(bool(args.trace))
    log("session up")
    tracer = Tracer(spark.sparkContext, bool(args.trace))
    try:
        wl = WORKLOADS[args.workload](spark, os.path.join(WORK, "data"),
                                      args.seed, tracer)
        log("inputs generated")
        res = wl.run(args.seconds)
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)
        log("session stopped")
    if args.trace:
        units = declared_units("per_layer")
        counters = spark_counters(os.path.join(WORK, "eventlog"))
        metrics = layer_metrics(units, args.workload, res, tracer, counters, cores)
        metrics["proc.peak_rss_mb"] = rss
        tracer.dump(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed,
                     "counters": counters, "metrics": metrics})
    else:
        units = declared_units("end_to_end")
        metrics = {
            "setup_s": median(res.setup),
            "op_cpu_s": mean(res.op_cpu),
            "op_cpu_tail_s": tail(res.op_cpu),
            "rows_per_cpu_s": res.rows_per_cpu_s,
        }
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
