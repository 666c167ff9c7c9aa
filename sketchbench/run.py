"""ddsketch_spark benchmark: one closed-loop client on local[k], k <= 4.

    python3 sketchbench/run.py --workload token_pass --seed 1 --seconds 5 --trace 0
    python3 sketchbench/run.py --workload token_pass --seed 1 --seconds 5 --trace 1

Run from the root of a checkout. Set-up (start Spark, generate or reuse the
seeded inputs, compute the exact answers, register the inputs) is repeated
SETUP_REPS times and its median reported as ``setup_s``; the first repetition
also launches the JVM. One untimed warm-up job follows. Then jobs run back to
back, each starting when the previous one ends, for ``--seconds`` and at least
MIN_JOBS jobs; every job's output is checked against the exact answers.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs half the time
untraced and half traced (each public function one stage at a time, inside
spans) and reports the per-layer metrics, plus ``trace.overhead_s``: the
traced minus the untraced median job time.

Every file the run writes (inputs, Spark, JVM and worker temp files, results)
stays under sketchbench/.work. The last stdout line is the result; the line
before it is the full artifact: host block, input sizes, every job's record
and the metrics that are not gated (``max_err_ratio``, ``failed_ops``, the
job-time tail).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")

SETUP_REPS = 3
MIN_JOBS = 2
MAX_CORES = 4
LAYERS = ("sketch_agg", "ddsketch_agg", "quantile_agg", "approx_agg",
          "similarity", "dedup", "io", "job")

# The first six are gated end-to-end metrics. max_err_ratio (worst error over
# its published bound, over every checked estimate) and failed_ops are 0 on
# some workloads, so they are reported in the artifact and enforced through
# "correct", "failed" and "attempted" instead.
UNITS = {
    "setup_s": "s", "job_s.p50": "s", "values_per_s": "values/s",
    "cpu_s_per_job": "CPU-s", "peak_rss_mb": "MB", "state_bytes": "bytes",
    "max_err_ratio": "ratio", "failed_ops": "ratio",
}
GATED = ("setup_s", "job_s.p50", "values_per_s", "cpu_s_per_job", "peak_rss_mb", "state_bytes")


def _env() -> None:
    """Keep every file Spark, the JVM and the workers write in WORK, and let
    the workers import the library from any cwd."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["DDSKETCH_FIXTURE_DIR"] = os.path.join(WORK, "inputs")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # every JVM, the spark-submit launcher's too: temp files in WORK, and no
    # hsperfdata file (which the JVM always writes under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(cores: int):
    from pyspark.sql import SparkSession

    # serial GC: on a few shared vCPUs parallel GC threads compete with the
    # task threads and make job times and memory swing from run to run. The
    # JIT keeps its default number of compiler threads: with fewer, its
    # compiling drags on into the timed jobs and their CPU swings with it.
    java_opts = (f"-Dderby.system.home={os.path.join(WORK, 'derby')} "
                 "-XX:+UseSerialGC")
    spark = (
        SparkSession.builder.master(f"local[{cores}]").appName("sketchbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one job generates ~85 classes; at the default 100 entries, whether
        # a repeated job recompiles a third of them depends on eviction, so
        # some runs pay that compile and JIT CPU in every job and others not
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def end_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process to exit."""
    from pyspark import SparkContext

    from sketchbench.probes import tree_pids

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while len(tree_pids()) > 1 and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return {"pct": None, "value": None, "samples": n}
    pct = int(100 * (1 - 10 / n))
    k = max(0, int(n * pct / 100) - 1)
    return {"pct": pct, "value": sorted(values)[k], "samples": n}


def run(args) -> dict:
    from sketchbench import inputs
    from sketchbench import workloads as W
    from sketchbench.probes import (Tracer, TreeSampler, cpu_steal_s, host_block,
                                    tree_cpu_s)

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    jobs: list[dict] = []
    setups: list[float] = []
    layer_runs: list[dict] = []
    core_metrics: dict = {}
    spark = None
    steal0, t_run = cpu_steal_s(), time.perf_counter()

    def do_job(w, kind: str, tracer=None) -> dict:
        rec = {"kind": kind, "ok": False}
        runner = W.Runner(spark, tracer)
        try:
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            if tracer is not None:
                with tracer.span("job"):
                    raw = w.run(runner)
            else:
                raw = w.run(runner)
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - cpu0
            stages = runner.stage_metrics() if tracer is not None else []
            spark.catalog.clearCache()  # cms_heavy_hitters persists its counters
            res = w.load(raw)
            checks = w.check(res)
            rec["state_bytes"] = sum(W.ipc_bytes(t) for t in res.values())
            rec["values"] = w.values
            rec["checks"] = checks.families
            rec["misses"] = checks.misses
            rec["max_err_ratio"] = checks.max_err_ratio
            rec["ok"] = checks.misses == 0
            if tracer is not None:
                rec["layers"] = W.layer_metrics(w, res, stages)
                rec["self_s"] = tracer.self_times()
        except Exception:  # one failed job is counted, and the run goes on
            rec["error"] = traceback.format_exc()
            print(rec["error"], file=sys.stderr)
        jobs.append(rec)
        return rec

    with TreeSampler() as sampler:
        try:
            for _ in range(1 if args.trace else SETUP_REPS):
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = start_spark(cores)
                w = W.WORKLOADS[args.workload](spark, WORK, args.size, args.seed)
                w.exact()
                w.register()
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            do_job(w, "warmup")
            warmup_s = time.perf_counter() - t0
            host = host_block(spark)
            n_parts = w.df.rdd.getNumPartitions()
            budget = args.seconds / 2 if args.trace else args.seconds
            for kind, tracer_of in (("timed", lambda: None),) + (
                    (("traced", Tracer),) if args.trace else ()):
                t0 = time.perf_counter()
                done = 0
                while done < MIN_JOBS or time.perf_counter() - t0 < budget:
                    tr = tracer_of()
                    rec = do_job(w, kind, tr)
                    done += 1
                    if tr is not None and "layers" in rec:
                        layer_runs.append(rec)
            if args.trace:
                core_metrics = W.core_probe(w, n_parts)
        finally:
            end_spark(spark)
    steal = cpu_steal_s() - steal0

    timed = [j for j in jobs if j["kind"] == "timed" and "s" in j]
    job_s = statistics.median(j["s"] for j in timed)
    failed = sum(not j["ok"] for j in jobs)
    ratios = [j["max_err_ratio"] for j in jobs if j.get("max_err_ratio") is not None]
    n = len(timed)
    metrics = {
        "setup_s": (statistics.median(setups), len(setups)),
        "job_s.p50": (job_s, n),
        "values_per_s": (w.values / job_s, n),
        "cpu_s_per_job": (statistics.median(j["cpu_s"] for j in timed), n),
        "peak_rss_mb": (sampler.peak_rss / 2**20, 1),
        "state_bytes": (statistics.median(j["state_bytes"] for j in timed if "state_bytes" in j), n),
        "max_err_ratio": (max(ratios) if ratios else None, len(ratios)),
        "failed_ops": (failed / len(jobs), len(jobs)),
    }
    metrics = {k: {"value": v, "unit": UNITS[k], "samples": c} for k, (v, c) in metrics.items()}
    layers: dict = {}
    if args.trace:
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        for key in layer_runs[0]["layers"] if layer_runs else ():
            layers[key] = med([r["layers"][key] for r in layer_runs])
        layers.update(core_metrics)
        for layer in LAYERS:
            layers[f"trace.{layer}.self_s"] = med([
                sum(v for k, v in r["self_s"].items() if k.split(".")[0] == layer)
                for r in layer_runs])
        layers["trace.overhead_s"] = med([r["s"] for r in layer_runs]) - job_s
    for j in jobs:
        j.pop("layers", None)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "sizes": inputs.SIZES[args.workload][args.size],
        "values_per_job": w.values,
        "values_unit": w.values_unit,
        "host": {**host, "cores_used": cores, "steal_s": steal,
                 "run_s": time.perf_counter() - t_run},
        "setup_runs_s": setups,
        "warmup_s": warmup_s,
        "job_tail_s": tail([j["s"] for j in timed]),
        "metrics": metrics,
        "per_layer": layers,
        "attempted": len(jobs),
        "failed": failed,
        "jobs": jobs,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("token_pass", "many_groups"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)

    _env()
    import ddsketch_spark  # noqa: F401  -- fail before any work without the library

    art = run(args)
    out = os.path.join(WORK, "results", f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(art, f, indent=1, default=str)
    print(json.dumps(art, default=str))
    if args.trace:
        metrics = {n: {"value": v, "unit": layer_unit(n)} for n, v in sorted(art["per_layer"].items())}
    else:
        metrics = {n: {k: art["metrics"][n][k] for k in ("value", "unit")} for n in GATED}
    # a job whose error exceeds its bound fails its check, so failed == 0
    # also means max_err_ratio <= 1
    print(json.dumps({"correct": art["failed"] == 0, "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("values_per_s"):
        return "values/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("bytes", "bytes_to_python")):
        return "bytes"
    if name.endswith(("ratio", "recall")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
