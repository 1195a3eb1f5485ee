"""Link-graph job benchmark: one command, one workload, one JSON result.

    python3 perfbench/run.py --workload transcript_pagerank --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts one Spark session on
``local[N]`` (N = min(4, usable cores)) with a heap sized from MemTotal,
generates the workload's inputs from ``--seed``, warms up with one job, then
runs the workload's job back to back (one closed-loop client) until
``--seconds`` have passed, checking every output against a NumPy reference.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the Spark
event log, runs one more job with spans recorded, and prints the per-layer
metrics plus the tracing overhead. The last stdout line is the JSON result;
the lines before it (prefixed ``#``) record the environment, the inputs and
every metric with its unit. All files go under ``perfbench/.work`` (removed
at exit) and ``perfbench/.cache`` (reference results).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from spans import SPARK_METRICS, SpanRecorder, layer_stats, read_events

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The engine layers a traced run attributes Spark work to (span names).
LAYERS = (
    "transcripts.derive",
    "transcripts.joinback",
    "graph.ids",
    "pregel.spmv",
    "pregel.superstep",
    "algorithms.pagerank",
    "algorithms.wcc",
    "algorithms.labelprop",
    "algorithms.triangles",
)
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "edges_per_s": "edges/s",
}
PER_LAYER_NAMED = (
    "transcripts.derive_s",
    "transcripts.joinback_s",
    "graph.ids.dense_ids_s",
    "graph.ids.jobs",
    "pregel.spmv.prep_s",
    "pregel.spmv.shuffle_mb",
    "pregel.spmv.active_rows",
    "algorithms.pagerank.loop_s",
    "algorithms.pagerank.supersteps",
    "pregel.superstep.commits",
    "pregel.superstep.commit_s",
    "pregel.superstep.driver_gap_s",
    "algorithms.wcc.rounds",
    "algorithms.wcc.wall_s",
    "algorithms.labelprop.rounds",
    "algorithms.labelprop.wall_s",
    "algorithms.triangles.count",
    "algorithms.triangles.wall_s",
    "trace.overhead_s",
    "trace.overhead_frac",
)


def per_layer_names() -> list[str]:
    spark = [
        f"{layer}.spark.{m}"
        for layer in LAYERS
        for m in SPARK_METRICS
        if (layer, m) != ("graph.ids", "jobs")  # reported as graph.ids.jobs
    ]
    return list(PER_LAYER_NAMED) + spark


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "task_skew")):
        return "ratio"
    return "count"


# -- environment -------------------------------------------------------------


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_jiffies() -> list[int]:
    """Machine-wide /proc/stat cpu fields (user nice system idle iowait irq
    softirq steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def configure(work: str) -> dict:
    """Size the session to the box and keep every file under ``work``.
    Must run before the Spark JVM starts."""
    cores = min(4, len(os.sched_getaffinity(0)))
    heap_mb = max(1024, min(8192, mem_total_mb() // 6))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return {"cores": cores, "heap_mb": heap_mb, "mem_total_mb": mem_total_mb()}


def start_session(work: str, cores: int, trace: bool):
    from graph_data_science_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoint"))
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Context:
    def __init__(self, spark, rec, work: str, cache: str) -> None:
        self.spark = spark
        self.rec = rec
        self.work = work
        self.cache = cache
        self._ids = itertools.count()

    def next_id(self) -> int:
        return next(self._ids)


# -- run ---------------------------------------------------------------------


def install_tracing(rec) -> None:
    import importlib

    from graph_data_science_spark.pregel.superstep import SuperstepLoop

    rec.install(importlib.import_module("graph_data_science_spark.transcripts"), "dense_ids", "graph.ids")
    rec.install(
        importlib.import_module("graph_data_science_spark.algorithms.pagerank"),
        "sql_message_path",
        "pregel.spmv",
    )
    rec.install(SuperstepLoop, "commit", "pregel.superstep")


def layer_metrics(rec, job, untraced_s: float, stats: dict) -> dict[str, float]:
    c = job.counts
    zero = dict.fromkeys(SPARK_METRICS, 0.0)
    spark = {layer: stats.get(layer, zero) for layer in LAYERS}
    spmv_shuffle = 0.0
    if rec.named("algorithms.pagerank"):
        spmv_shuffle = (
            spark["pregel.spmv"]["shuffle_write_mb"] + spark["pregel.superstep"]["shuffle_write_mb"]
        )
    m = {
        "transcripts.derive_s": rec.total("transcripts.derive"),
        "transcripts.joinback_s": rec.total("transcripts.joinback"),
        "graph.ids.dense_ids_s": rec.total("graph.ids"),
        "graph.ids.jobs": spark["graph.ids"]["jobs"],
        "pregel.spmv.prep_s": rec.total("pregel.spmv"),
        "pregel.spmv.shuffle_mb": spmv_shuffle,
        "pregel.spmv.active_rows": c.get("active_rows", 0.0),
        "algorithms.pagerank.loop_s": c.get("loop_s", 0.0),
        "algorithms.pagerank.supersteps": c.get("supersteps", 0.0),
        "pregel.superstep.commits": float(len(rec.named("pregel.superstep"))),
        "pregel.superstep.commit_s": rec.total("pregel.superstep"),
        "pregel.superstep.driver_gap_s": sum(
            rec.self_time(a) for a in ("algorithms.pagerank", "algorithms.wcc", "algorithms.labelprop")
        ),
        "algorithms.wcc.rounds": c.get("wcc_rounds", 0.0),
        "algorithms.wcc.wall_s": rec.total("algorithms.wcc"),
        "algorithms.labelprop.rounds": c.get("lpa_rounds", 0.0),
        "algorithms.labelprop.wall_s": rec.total("algorithms.labelprop"),
        "algorithms.triangles.count": c.get("triangles", 0.0),
        "algorithms.triangles.wall_s": rec.total("algorithms.triangles"),
        "trace.overhead_s": job.wall_s - untraced_s,
        "trace.overhead_frac": job.wall_s / untraced_s - 1.0,
    }
    for layer in LAYERS:
        for k in SPARK_METRICS:
            if (layer, k) != ("graph.ids", "jobs"):
                m[f"{layer}.spark.{k}"] = spark[layer][k]
    return m


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    import graph_data_science_spark  # noqa: F401  (fails fast outside a checkout)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> dict:
    env = configure(work)
    env["loadavg_start"] = list(os.getloadavg())
    cpu_start = cpu_jiffies()

    import pyspark

    from workloads import WORKLOADS

    t0 = time.monotonic()
    spark = start_session(work, env["cores"], bool(args.trace))
    session_s = time.monotonic() - t0
    try:
        env.update(
            spark=spark.version,
            pyspark=pyspark.__version__,
            jdk=spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        )
        ctx = Context(spark, SpanRecorder(), work, os.path.join(HERE, ".cache"))
        wl = WORKLOADS[args.workload](ctx)
        prep_s, inputs = wl.setup(args.seed)
        # Warm-up: the first job in a fresh JVM runs about twice as long as
        # a warm one (JIT, code generation); its cost shows in setup_s.
        warm = wl.run_job()
        setup_s = session_s + prep_s + warm.wall_s
        jobs = [warm]

        measured = []
        t_measure = time.monotonic()
        while not measured or time.monotonic() - t_measure < args.seconds:
            measured.append(wl.run_job())
        jobs += measured

        traced = None
        if args.trace:
            ctx.rec = SpanRecorder(spark.sparkContext)
            install_tracing(ctx.rec)
            try:
                traced = wl.run_job()
            finally:
                ctx.rec.uninstall()
            jobs.append(traced)
    finally:
        stop_session(spark)
    env["loadavg_end"] = list(os.getloadavg())
    # Share of CPU time the hypervisor gave to other guests during the run.
    delta = [b - a for a, b in zip(cpu_start, cpu_jiffies())]
    env["cpu_steal_frac"] = delta[7] / max(1, sum(delta))

    attempted = sum(j.ops for j in jobs)
    failed = sum(j.failed for j in jobs)
    job_s = statistics.median(j.wall_s for j in measured)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "jobs_measured": len(measured),
        "session_s": session_s,
        "inputs_s": prep_s,
        "warmup_s": warm.wall_s,
        "error_rate": failed / attempted,
        "errors": sorted({e for j in jobs for e in j.errors}),
        "job_walls_s": [j.wall_s for j in measured],
        "timings_s": {
            k: statistics.median(j.timings[k] for j in measured if k in j.timings)
            for k in measured[0].timings
        },
    }
    if traced is None:
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "edges_per_s": statistics.median(
                [j.counts["edges"] * j.rounds / j.algo_wall_s for j in measured if j.algo_wall_s > 0]
                or [0.0]  # every job failed: the result is marked incorrect
            ),
        }
    else:
        log_dir = os.path.join(work, "eventlog")
        (log_name,) = os.listdir(log_dir)
        stats = layer_stats(
            read_events(os.path.join(log_dir, log_name)),
            ctx.rec.self_times(),
            env["cores"],
        )
        metrics = layer_metrics(ctx.rec, traced, job_s, stats)
    return {
        "env": env,
        "inputs": inputs,
        "info": info,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, help="transcript_pagerank or community_suite")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    out = run(args)
    for key in ("env", "inputs", "info"):
        print(f"# {key} {json.dumps(out[key], sort_keys=True)}")
    for name, m in out["result"]["metrics"].items():
        print(f"# metric {name} = {m['value']:.6g} {m['unit']}")
    print(f"# error_rate = {out['info']['error_rate']:.6g} (failed / attempted operations)")
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
