"""Benchmark entry point.

    python3 perfbench/run.py --workload tier_store --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
passes repeat until ``--seconds`` have been measured (at least one pass,
and one pass takes longer than the default run length). Every output is
checked. Lines starting with ``#`` describe the inputs, the settings and
failed checks; the last line of stdout is the JSON result. With
``--trace 1`` the metrics are the per-layer ones and the spans are
written as JSON lines under ``perfbench/_traces/``.

Everything the run writes goes under ``perfbench/_work/run-<pid>/``
(deleted at the end) and ``perfbench/_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = (
    "insar_spark/__init__.py", "__spark_entry__.py", "jobs/rollup_job.py",
    "jobs/stream_job.py", "tools/check_oracle.py",
)
DRIVER_MEMORY = "4g"  # below the host's RAM; the engine default is 16g
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the engine writes inside the checkout, and let the
    Python workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str, cores: int):
    from insar_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # keep every job and stage in the status store for attribution
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_spark() -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the JVM."""
    from pyspark import SparkContext

    pids = ["self"]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(str(proc.pid))
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def declared_names() -> tuple[set[str], set[str]] | None:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return (
        {m["name"] for m in spec["end_to_end"]},
        {m["name"] for m in spec["per_layer"]},
    )


def main(argv=None) -> int:
    args = parse(argv)
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import layers
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    os.makedirs(work)
    configure_env(work)
    cores = len(os.sched_getaffinity(0))
    tracer = layers.install()
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        tracer.spark = spark
        W.log(
            f"settings workload={args.workload} master=local[{cores}] "
            f"shuffle_partitions={cores} driver_memory={DRIVER_MEMORY} "
            f"spark={spark.version}"
        )
        ctx = W.Context(spark, tracer, work, cores, args.seed)
        wl = W.WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        wl.prepare_inputs()
        setup_s = session_s + time.perf_counter() - t0

        passes, extra, measured, bookkeeping = [], {}, 0.0, 0.0
        while not passes or measured < args.seconds:
            tracer.active = bool(args.trace)
            before = tracer.bookkeeping_s
            with tracer.span("pass"):
                res = wl.run_pass(len(passes))
            tracer.active = False
            bookkeeping += tracer.bookkeeping_s - before
            measured += res["pass_s"]
            passes.append(res)
            t0 = time.perf_counter()
            extra.update(wl.check_pass(res))
            W.log(f"pass {len(passes)} checked in {time.perf_counter() - t0:.1f} s")
        values = {
            k: statistics.median(p[k] for p in passes)
            for k in passes[0] if isinstance(passes[0][k], float)
        }
        values["setup_s"] = setup_s
        W.log(
            f"passes={len(passes)} "
            + " ".join(f"{k}={v:.4f}" for k, v in sorted(values.items()))
        )
        if args.trace:
            metrics = layers.per_layer(
                spark, tracer, wl, passes, values, extra, bookkeeping, args.seed
            )
            metrics["process.peak_rss_mb"] = peak_rss_mb()
            os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
            path = os.path.join(
                HERE, "_traces", f"{args.workload}-seed{args.seed}.jsonl"
            )
            tracer.write_jsonl(path)
            W.log(f"spans: {len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")
            units = W.LAYER
        else:
            metrics = {k: values[k] for k in W.E2E}
            units = W.E2E
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    declared = declared_names()
    names = set(metrics)
    bad = [n for n in names if not NAME_RE.match(n)]
    if bad or (declared is not None and names != declared[args.trace]):
        print(f"perfbench: metric names not as declared: {sorted(bad or names)}",
              file=sys.stderr)
        return 3
    failed = len(ctx.failures)
    if failed:
        W.log(f"failed checks: {ctx.failures}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
