"""The program's layers as the benchmark sees them: which public calls get
a span, and how spans and Spark stage data become per-layer metrics."""

from __future__ import annotations

import statistics
import time

import numpy as np

import tracing
from tracing import Span, Tracer

TIER_BUILDERS = {
    "insar_spark.operators.rollup": ("rollup_turns", "cascade"),
    "insar_spark.operators.sketch": (
        "hist_rollup", "hist_cascade", "hist_rollup_global",
        "lb_rollup", "lb_cascade", "lb_rollup_global",
        "distinct_rollup_tall", "distinct_cascade_tall",
        "hll_rollup", "hll_cascade", "cms_rollup", "cms_cascade",
        "kmv_rollup", "kmv_cascade",
    ),
    "insar_spark.operators.downsample": ("m4_downsample", "m4_cascade"),
}


def _tier_arg(args, kwargs) -> str:
    return kwargs["tier"] if "tier" in kwargs else args[2]


def _files(parts: dict) -> int:
    return sum(len(p.get("files", [])) for p in parts.values())


def install() -> Tracer:
    """Wrap the program's public calls. Must run before ``jobs.*`` and
    ``__spark_entry__`` are imported."""
    import importlib

    from pyspark.sql.streaming.query import StreamingQuery

    from insar_spark.sources.catalog import TierStore
    from insar_spark.streaming import rollup_stream
    from jobs import stream_job

    tracer = Tracer()

    def commit(span: Span, args, kwargs, run):
        t0 = time.perf_counter()
        store, tier = args[0], _tier_arg(args, kwargs)
        before = store.manifest(tier)["partitions"]
        tracer.bookkeeping_s += time.perf_counter() - t0
        res = run()
        t0 = time.perf_counter()
        after = store.manifest(tier)["partitions"]
        new = [d for d in after if d not in before]
        span.attrs["tier"] = tier
        span.attrs["files"] = _files(after) - _files(before)
        span.attrs["rows"] = (
            res["written"] if "written" in res
            else sum(after[d]["rows"] for d in new)
        )
        tracer.bookkeeping_s += time.perf_counter() - t0
        return res

    for method in ("write_tier", "write_tier_log"):
        tracer.wrap(TierStore, method, f"catalog.{method}", on_call=commit)
    for method in ("read_tier", "read_tier_log", "drop_partitions"):
        tracer.wrap(TierStore, method, f"catalog.{method}")
    for mod, names in TIER_BUILDERS.items():
        m = importlib.import_module(mod)
        for n in names:
            tracer.wrap(m, n, f"tier.{n}")
    tracer.wrap(stream_job, "run_cycle", "stream.run_cycle")
    tracer.wrap(rollup_stream, "stream_to_tierstore", "stream.start")
    tracer.wrap(rollup_stream, "seal_and_compact", "stream.seal")
    tracer.wrap(StreamingQuery, "processAllAvailable", "stream.drain")
    tracer.wrap(StreamingQuery, "stop", "stream.stop")
    return tracer


def kernel_timings(seed: int, reps: int = 5) -> dict[str, float]:
    """Single-process medians of the public Python kernels on seeded
    arrays: the function-body cost, without any Spark boundary."""
    from insar_spark.functions import gorilla, lowess_kernel, sbas_kernels

    rng = np.random.default_rng(np.random.SeedSequence([seed, 3]))
    n = 100_000
    ts = np.cumsum(rng.integers(1, 60_000_000, n)).astype(np.int64)
    vals = np.round(rng.lognormal(3.5, 0.8, n), 2)
    x = np.sort(rng.random(2_000) * 30.0)
    y = np.round(rng.lognormal(3.5, 0.8, len(x)), 2)
    dates = np.sort(rng.choice(np.arange(2_000), 300, replace=False)).astype(float)
    early = np.concatenate([np.arange(len(dates) - k) for k in (1, 2, 3)])
    late = np.concatenate([np.arange(k, len(dates)) for k in (1, 2, 3)])
    G = sbas_kernels.build_B(dates, early, late)
    deltas = rng.standard_normal((len(early), 64))

    def med(fn) -> float:
        out = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t0)
        return statistics.median(out)

    enc_t, enc_v = gorilla.encode_timestamps(ts), gorilla.encode_values(vals)
    return {
        "kernel.gorilla_encode_s": med(
            lambda: (gorilla.encode_timestamps(ts), gorilla.encode_values(vals))
        ),
        "kernel.gorilla_decode_s": med(
            lambda: (gorilla.decode_timestamps(enc_t), gorilla.decode_values(enc_v))
        ),
        "kernel.lowess_s": med(lambda: lowess_kernel.lowess_xy(x, y, min_x_weighted=14.0)),
        "kernel.sbas_solve_s": med(lambda: sbas_kernels.invert_sbas(deltas, G)),
    }


def per_layer(spark, tracer: Tracer, wl, passes, values, extra, bookkeeping, seed) -> dict:
    """Every per-layer metric; a layer the workload does not reach reads 0."""
    import workloads as W

    spans = tracer.spans
    jobs, stages = tracing.read_status_store(spark)
    work = tracing.attribute(spans, jobs, stages)
    children: dict[int, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def subtree(s: Span):
        yield s
        for c in children.get(s.id, []):
            yield from subtree(c)

    def spark_sum(roots, field: str) -> float:
        return sum(work.get(x.id, {}).get(field, 0.0) for r in roots for x in subtree(r))

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def dur(ss) -> float:
        return sum(s.duration for s in ss)

    out = {k: 0.0 for k in W.LAYER}
    for k in W.LAYER:
        if k in values:
            out[k] = values[k]
    out.update(extra)

    writes = named("catalog.write_tier")
    logs = named("catalog.write_tier_log")
    out["catalog.write_tier_s"] = dur(writes)
    out["catalog.write_tier_calls"] = len(writes)
    if writes:
        out["catalog.jobs_per_write"] = spark_sum(writes, "jobs") / len(writes)
    out["catalog.files_written"] = sum(s.attrs.get("files", 0) for s in writes + logs)
    out["catalog.read_tier_s"] = dur(tracing.outermost(spans, "catalog.read_tier"))
    out["catalog.write_tier_log_s"] = dur(logs)
    out["catalog.drop_partitions_s"] = dur(named("catalog.drop_partitions"))
    if hasattr(wl, "bytes_per_point"):
        out["catalog.bytes_per_point"] = wl.bytes_per_point(passes[-1])

    out["tier.build_s"] = dur(tracing.outermost(spans, "tier."))
    out["tier.points_out"] = wl.points_out(passes, spans)

    for fam in W.FAMILIES:
        builds = named(f"query.build.{fam}")
        out[f"driver.build_s.{fam}"] = dur(builds)
        out[f"driver.eager_jobs.{fam}"] = spark_sum(builds, "jobs")
    series_exec = named("query.exec.series")
    out["spark.run_minus_cpu_s.series"] = (
        spark_sum(series_exec, "executorRunTime") / 1e3
        - spark_sum(series_exec, "executorCpuTime") / 1e9
    )

    cycles = named("stream.run_cycle")
    out["stream.drain_s"] = dur(named("stream.drain"))
    out["stream.seal_s"] = dur(named("stream.seal"))
    out["stream.cascade_s"] = dur(
        c for cyc in cycles for c in children.get(cyc.id, [])
        if c.name.startswith(("catalog.", "tier."))
    )
    out["stream.epochs"] = sum(1 for s in logs if s.attrs.get("rows", 0) > 0)
    out["serve.view_build_s"] = dur(s for s in spans if s.name.startswith("serve.build."))
    out["serve.view_exec_s"] = dur(s for s in spans if s.name.startswith("serve.exec."))

    roots = named("pass")
    out["spark.jobs"] = spark_sum(roots, "jobs")
    out["spark.tasks"] = spark_sum(roots, "numTasks")
    out["spark.executor_run_s"] = spark_sum(roots, "executorRunTime") / 1e3
    out["spark.executor_cpu_s"] = spark_sum(roots, "executorCpuTime") / 1e9
    out["spark.jvm_gc_s"] = spark_sum(roots, "jvmGcTime") / 1e3
    out["spark.input_bytes"] = spark_sum(roots, "inputBytes")
    out["spark.output_bytes"] = spark_sum(roots, "outputBytes")
    out["spark.shuffle_read_bytes"] = spark_sum(roots, "shuffleReadBytes")
    out["spark.shuffle_write_bytes"] = spark_sum(roots, "shuffleWriteBytes")
    out["spark.spill_bytes"] = spark_sum(roots, "memoryBytesSpilled") + spark_sum(
        roots, "diskBytesSpilled"
    )

    own = tracing.self_times(spans)
    for s in spans:
        key = f"self_s.{s.name.split('.')[0]}"
        if key in out:
            out[key] += own[s.id]
    out["trace.pass_s"] = sum(p["pass_s"] for p in passes)
    out["trace.overhead_s"] = bookkeeping
    out.update(kernel_timings(seed))
    return out
