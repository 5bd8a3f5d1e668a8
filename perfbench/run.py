"""CDC engine benchmark.

    python3 perfbench/run.py --workload <backfill|live_tail> --seed <n> \
        --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, sets up the engine, measures
for ``--seconds`` seconds, checks every output against a DuckDB oracle and
prints, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it records the environment and the
generator's parameters.  Progress goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def requested_cores() -> int:
    nproc = len(os.sched_getaffinity(0))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc)
    if not 1 <= cores <= nproc:
        raise SystemExit(f"SPARK_GRAFT_CPUS={cores} but {nproc} cores are available")
    return cores


def configure_env(cores: int, event_log: str | None) -> None:
    """Session settings the engine reads from the environment, fixed so
    every run measures the same configuration.  The checkout root goes on
    PYTHONPATH so Python workers import the package from any working
    directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    confs = ["spark.ui.showConsoleProgress=false"]
    if event_log:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_log}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    )


def check_worker_import(spark) -> None:
    """Python workers must import the engine package (UDF code paths)."""
    path = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("cdc_practice_spark").__file__)
        .collect()[0]
    )
    if not path.startswith(ROOT):
        raise SystemExit(f"workers import cdc_practice_spark from {path}")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def environment(spark, args, cores: int) -> dict:
    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "cores_requested": cores,
        "default_parallelism": sc.defaultParallelism,
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEM,
    }


def end_to_end(out, workload: str) -> dict[str, float]:
    from perfbench.tracing import median, percentile
    from perfbench.workloads import TAILS

    return {
        "setup_s": out.setup_s,
        "events_per_s": median([n / s for n, s in out.applied]),
        "freshness_p50_s": median(out.freshness_s),
        "freshness_tail_s": percentile(out.freshness_s, TAILS[workload]["freshness"]),
    }


def per_layer(
    out, workload: str, tracer, e2e: dict, get_spark_s: float, peak: int, event_log: str
) -> dict[str, float]:
    from perfbench.tracing import attribute_jobs, median, percentile, read_event_log
    from perfbench.workloads import TAILS

    layer = dict(out.layer)
    pipeline_batches = layer.pop("_pipeline_batches", 0)
    layer["session.get_spark_s"] = get_spark_s
    layer["memory.peak_mb"] = peak / 1e6
    reads = [s for v in out.reads.values() for s in v]
    # the read kinds differ several-fold in cost, so the pooled median
    # jumps between kinds from run to run; the p50 averages the kinds'
    # medians instead
    kinds = {kind: median(lat) for kind, lat in out.reads.items() if lat}
    layer["reads.p50_s"] = sum(kinds.values()) / len(kinds) if kinds else 0.0
    layer["reads.tail_s"] = percentile(reads, TAILS[workload]["read"]) if reads else 0.0
    for kind, p50 in kinds.items():
        layer[f"reads.{kind}_s"] = p50
    jobs, stats = read_event_log(event_log)
    by_span = attribute_jobs(jobs, stats, out.job_groups, out.windows)
    for name in ("streaming.pipeline", "streaming.history"):
        st = by_span.pop(name, None)
        if st is None:
            continue
        acc = by_span.setdefault("streaming.run", type(st)())
        for f in ("jobs", "tasks", "shuffle_bytes", "gc_ms"):
            setattr(acc, f, getattr(acc, f) + getattr(st, f))
        if name == "streaming.pipeline" and pipeline_batches:
            layer["streaming.pipeline.jobs_per_epoch"] = st.jobs / pipeline_batches
    for span in ("cdc.rebuild", "streaming.run", "reads"):
        n = len(tracer.named(span))
        st = by_span.get(span)
        for f, scale in (("jobs", 1), ("tasks", 1), ("shuffle_bytes", 1), ("gc_s", 1e-3)):
            raw = getattr(st, "gc_ms" if f == "gc_s" else f) if st else 0
            layer[f"{span}.{f}"] = raw * scale / n if n else 0.0
    layer["trace.events_per_s"] = e2e["events_per_s"]
    return layer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import cdc_practice_spark  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as err:
        log(f"the engine package is not importable from {ROOT}: {err}")
        return 2
    from perfbench.tracing import MemorySampler, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    spec = load_spec()
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = None
    if args.trace:
        event_log = os.path.join(work, "eventlog")
        os.makedirs(event_log)
    cores = requested_cores()
    configure_env(cores, event_log)

    memory = MemorySampler().start() if args.trace else None
    from cdc_practice_spark.session import get_spark

    t = time.time()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if spark.sparkContext.defaultParallelism != cores:
        log(f"effective parallelism {spark.sparkContext.defaultParallelism} != {cores} cores")
        stop_spark(spark)
        return 3
    check_worker_import(spark)
    get_spark_s = time.time() - t
    env = environment(spark, args, cores)
    log(f"session ready in {get_spark_s:.1f} s: {env}")

    ctx = Ctx(
        spark=spark,
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
        tracer=Tracer(spark.sparkContext if args.trace else None),
    )
    try:
        out = WORKLOADS[args.workload](ctx)
    finally:
        stop_spark(spark)
    out.setup_s += get_spark_s
    peak = memory.stop() if memory else 0

    e2e = end_to_end(out, args.workload)
    if args.trace:
        values = per_layer(out, args.workload, ctx.tracer, e2e, get_spark_s, peak, event_log)
        names = spec["per_layer"]
    else:
        values = e2e
        names = spec["end_to_end"]
    # a layer the workload does not exercise reads 0
    unmeasured = [m["name"] for m in names if m["name"] not in values]
    if unmeasured:
        log(f"not exercised by {args.workload}: {', '.join(unmeasured)}")
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names
    }
    for p in out.problems[:20]:
        log(f"FAILED: {p}")
    print(json.dumps({"perfbench_info": {**env, **out.info, "problems": out.problems[:20]}}))
    print(
        json.dumps(
            {
                "correct": not out.problems,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
