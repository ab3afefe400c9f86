"""Validation benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload suite_inmem --seed 1 --seconds 1 --trace 0

Run from the repository root. A run is one fresh process, as one
`spark-submit` of `jobs/validate.py` is: it starts the engine's
SparkSession on every core of the affinity mask, stages a seeded snapshot
pair STAGE_REPS times (setup), then runs the workload's passes for
`--seconds`, each starting after the previous one ends (at least one).
The first pass of the process is measured with everything it pays: JIT
warm-up, Python-worker start-up and planning. Every pass is gated against
anchor counts taken from the staged reference (see gates.py) and against
the first pass of its kind.

Workloads:
  suite_inmem  ValidationSuite.run without TableIO, violations then
               verdicts sunk to noop.
  resume_tail  resume a results dir whose run crashed after 3 of its 4
               commits, then read_verdicts + summarize (jobs/validate.py).

The last stdout line is one JSON object {"correct", "attempted",
"failed", "metrics"}; the line before it records the deployment. With
`--trace 1` the run stages once, adds spans around the calls into each
engine module plus one-check isolated passes, reports per-layer metrics
instead of end-to-end ones and writes its spans to `.perfbench_work/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

WORKLOADS = ("suite_inmem", "resume_tail")
N_TURNS = 250_000
N_CONVS = 2_500
STAGE_REPS = 2  # setup_s reports the median staging time
HEAP_SHARE = 0.4  # of MemTotal, for the pre-touched JVM heap


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_settings(root: str, work: str) -> dict:
    """Deployment sized to this host, passed to the engine explicitly:
    cores from the affinity mask, the JVM heap at HEAP_SHARE of
    MemTotal, the repository on the Python workers' path, and Spark's
    scratch space inside the run's work dir."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(16, int(HEAP_SHARE * mem_kb / 2**20)))
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    return {
        "cores": cores,
        "mem_total_gb": round(mem_kb / 2**20, 2),
        "env": env,
        "n_turns": N_TURNS,
        "n_convs": N_CONVS,
        "hot_fraction": 0.05,
        "config": "CheckSuiteConfig(n_buckets=32, num_scales=4, 12 checks, commit_batches=4)",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched (the JVM exits
    when its stdin closes; it takes the Python worker daemon with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(xs):
    xs = [x for x in xs if x == x]
    return statistics.median(xs) if xs else None


def run(args, work: str, settings: dict) -> dict:
    from perfbench import gen
    from perfbench.gates import verdict_digest
    from perfbench.rss import RssSampler
    from perfbench.spans import Tracer
    from perfbench.workloads import SUITE_CHECKS, Bench, dir_usage, suite_config
    from ssimulacra2_spark import session

    # the engine puts Spark's scratch space on /dev/shm; keep it in the
    # run's work dir (SPARK_LOCAL_DIRS) so the run writes only there
    session.local_dirs = lambda: settings["env"]["SPARK_LOCAL_DIRS"]
    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    resume = args.workload == "resume_tail"
    cfg = suite_config()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = session.get_spark("perfbench", cores=settings["cores"])
        session_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            stage_s = []
            for i in range(1 if args.trace else STAGE_REPS):
                d = os.path.join(work, f"stage{i}")
                t0 = time.perf_counter()
                with tracer.span("benchgen.stage"):
                    ref_path, cand_path, expected = gen.stage(
                        spark, N_TURNS, N_CONVS, args.seed, d, cfg.n_buckets, cfg.commit_batches
                    )
                stage_s.append(time.perf_counter() - t0)
                if i:
                    shutil.rmtree(os.path.join(work, f"stage{i - 1}"))
            setup_s = session_s + median(stage_s)
            log(f"session {session_s:.3f}s, stage {', '.join(f'{s:.3f}' for s in stage_s)}s")
            bench = Bench(spark, tracer, ref_path, cand_path, work, expected)
            seed_dir = os.path.join(work, "seeded")
            if resume:
                t0 = time.perf_counter()
                with tracer.span("seed"):
                    bench.seed_crashed_run(seed_dir)
                setup_s += time.perf_counter() - t0

            # closed loop: the first pass of the process, then more until
            # --seconds have passed (untraced runs only)
            measured = []
            deadline = time.perf_counter() + args.seconds
            while not measured or (not args.trace and time.perf_counter() < deadline):
                i = len(measured)
                measured.append(
                    bench.guarded(f"resume{i}", bench.resume_pass, seed_dir)
                    if resume
                    else bench.guarded(f"inmem{i}", bench.inmem_pass)
                )

            if args.trace:
                isolated = {}
                for c in SUITE_CHECKS:
                    t0 = time.perf_counter()
                    res = bench.guarded(f"check:{c}", bench.inmem_pass, (c,))
                    isolated[c] = (res, t0, time.perf_counter())
                in_bytes = dir_usage(ref_path)[0] + dir_usage(cand_path)[0]
                metrics = layer_metrics(
                    tracer, rss, session_s, stage_s, measured[0], isolated, in_bytes
                )
                trace_path = os.path.join(
                    os.path.dirname(work), f"trace-{os.path.basename(work)}.json"
                )
                passes = [
                    vars(r) | {"verdicts": verdict_digest(r.verdicts)} for r in bench.results
                ]
                with open(trace_path, "w") as f:
                    json.dump(
                        {"deployment": settings, "spans": tracer.spans, "passes": passes},
                        f, indent=1, default=str,
                    )
            else:
                wall = median([r.wall_s for r in measured if r.ok])
                metrics = {
                    "turns_per_s": (N_TURNS / wall if wall else None, "turns/s"),
                    "wall_s": (wall, "s"),
                    "setup_s": (setup_s, "s"),
                    "peak_rss_gb": (rss.peak_gb(), "GB"),
                }
        finally:
            stop_spark(spark)
    failed = sum(not r.ok for r in bench.results)
    return {
        "correct": failed == 0,
        "attempted": len(bench.results),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(tracer, rss, session_s, stage_s, traced, isolated, in_bytes):
    """Per-layer metrics of a traced run, from its measured pass except for
    the isolated one-check passes. A layer the workload does not call
    reports zero: the sinks on resume_tail, TableIO on suite_inmem."""
    from perfbench.spans import covered, self_time, span_cost_s
    from perfbench.workloads import CHECK_LAYERS

    def total(name, pass_id):
        return sum(tracer.durations(name, pass_id))

    pid = traced.pass_id
    writes = tracer.named("sources.tableio.write_results", pid)
    wasted = [s for s in writes if traced.new_partitions.get(s.get("result"), 0) == 0]
    run_span = next(iter(tracer.named("plans.suite.run", pid)), None)
    # with TableIO, run() executes every slice: its self time is planning
    plan_s = self_time(run_span, tracer.spans) if run_span else total("plans.suite.plan", pid)
    # share of the measured pass's wall that the layer spans account for
    pass_span = tracer.named("pass", pid)[0]
    kids = [(s["start"], s["end"]) for s in tracer.spans if s["parent"] == pass_span["id"]]
    coverage = covered(kids, pass_span["start"], pass_span["end"]) / (
        pass_span["end"] - pass_span["start"]
    )
    drift = isolated["drift_score"]
    m = {
        "session.start_s": (session_s, "s"),
        "benchgen.stage_s": (median(stage_s), "s"),
        "plans.suite.plan_s": (plan_s, "s"),
        "plans.suite.violations_sink_s": (total("plans.suite.violations_sink", pid), "s"),
        "plans.suite.verdicts_sink_s": (total("plans.suite.verdicts_sink", pid), "s"),
        "plans.suite.jobs": (traced.jobs, "count"),
        "plans.suite.tasks": (traced.tasks, "count"),
        "plans.suite.failed_tasks": (traced.failed_tasks, "count"),
    }
    for c, name in CHECK_LAYERS.items():
        m[name] = (isolated[c][0].wall_s, "s")
    m["operators.drift_arrow.worker_peak_rss_gb"] = (
        rss.peak_gb(drift[1], drift[2], workers=True), "GB"
    )
    n_spans = len([s for s in tracer.spans if s["pass"] == pid])
    m.update({
        "sources.tableio.write_results_s": (median([s["end"] - s["start"] for s in writes]) or 0.0, "s"),
        "sources.tableio.write_results_calls": (len(writes), "count"),
        "sources.tableio.compact_s": (total("sources.tableio.compact", pid), "s"),
        "sources.tableio.read_verdicts_s": (total("sources.tableio.read_verdicts", pid), "s"),
        "sources.tableio.bytes_written_per_input_byte": (traced.bytes_written / in_bytes, "ratio"),
        "sources.tableio.files_written": (traced.files_written, "count"),
        "sources.tableio.completed_partitions_s": (total("sources.tableio.completed_partitions", pid), "s"),
        "sources.tableio.wasted_commit_s": (sum(s["end"] - s["start"] for s in wasted), "s"),
        "sources.tableio.useful_commit_ratio": ((len(writes) - len(wasted)) / len(writes) if writes else 0.0, "ratio"),
        "trace.overhead_s": (n_spans * span_cost_s(), "s"),
        "trace.span_coverage": (coverage, "ratio"),
    })
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ssimulacra2_spark", "plans", "suite.py")):
        print("perfbench: engine sources not found; run from the repository root",
              file=sys.stderr)
        return 2
    # import perfbench as a package from the root, not as loose modules
    sys.path[0] = root
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    settings = host_settings(root, work)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(settings["env"])
    print("DEPLOYMENT " + json.dumps(settings), flush=True)
    try:
        result = run(args, work, settings)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
