"""The benchmark's workloads: set-up, one measured pass, output checks.

``tier_store``: the production tier pipeline on one store. A fresh-store
``jobs.rollup_job.main --sketch`` backfills the history days (17 tiers),
the same job reruns as a no-op resume, then two day drops are landed one
after the other and ingested with ``jobs.stream_job.run_cycle`` (the
stats family only), and after each the stats, lb and m4 real-time views
are read from the same store.

``analytics``: one closed-loop client builds and collects 28 read-only
queries of ``__spark_entry__.queries()`` in a fixed order.

Each run is a fresh process, so a pass pays what a freshly launched job
pays: class loading, JIT and code generation happen inside the pass.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import statistics
import time

import numpy as np
import pandas as pd

import inputs
from tracing import Tracer

# --------------------------------------------------------------- metrics

# name -> unit; every run prints every one of these (``--trace 0``)
E2E = {
    "setup_s": "s",
    "pass_s": "s",
    "points_per_s": "1/s",
    "wait_s": "s",
}

# name -> unit; every traced run prints every one of these (``--trace 1``)
FAMILIES = {
    "series": [
        "w5_lowess_smooth", "sbas_solve_from_blobs", "lttb_downsample",
        "ewma_smooth", "w7_gapfill_spline", "gorilla_compress_stats",
    ],
    "windows": [
        "w1_turn_deltas", "w2_cumsum_reconstruct", "a12_rolling_mean_1h",
        "a4_temporal_coherence", "w7_gapfill_linear_1d",
        "sbas_solve_bandwidth1", "cusum_level_shift",
    ],
    "tiers": [
        "flagship_rollup_1m", "rollup_cascade_1h", "rollup_cascade_1d",
        "hist_p95_1h", "lb_rank_p99_1h", "delta_p05_p95_1h",
        "distinct_hll_1h", "hot_convs_cms_1h", "m4_downsample_1w",
        "anomaly_hod_1h",
    ],
    "corpus": [
        "dedup_exact", "dedup_minhash_pairs", "sim_cosine_vs_query",
        "sim_lsh_topk", "sim_lsh_store_topk",
    ],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}

LAYER = {
    # per-workload end-to-end breakdowns
    "backfill_points_per_s": "1/s",
    "resume_s": "s",
    "ingest_turns_per_s": "1/s",
    "freshness_s": "s",
    "serve_read_s": "s",
    "analytics_sweep_s": "s",
    **{f"analytics.{f}_s": "s" for f in FAMILIES},
    # sources.catalog
    "catalog.write_tier_s": "s",
    "catalog.write_tier_calls": "count",
    "catalog.jobs_per_write": "count",
    "catalog.files_written": "count",
    "catalog.bytes_per_point": "B",
    "catalog.read_tier_s": "s",
    "catalog.write_tier_log_s": "s",
    "catalog.drop_partitions_s": "s",
    # operators.rollup / sketch / downsample
    "tier.build_s": "s",
    "tier.points_out": "count",
    # __spark_entry__ query construction
    **{f"driver.build_s.{f}": "s" for f in FAMILIES},
    **{f"driver.eager_jobs.{f}": "count" for f in FAMILIES},
    # operators.batched and functions.*
    "spark.run_minus_cpu_s.series": "s",
    "kernel.gorilla_encode_s": "s",
    "kernel.gorilla_decode_s": "s",
    "kernel.lowess_s": "s",
    "kernel.sbas_solve_s": "s",
    # streaming.rollup_stream
    "stream.drain_s": "s",
    "stream.seal_s": "s",
    "stream.cascade_s": "s",
    "stream.epochs": "count",
    "stream.late_rows": "count",
    "serve.view_build_s": "s",
    "serve.view_exec_s": "s",
    # Spark engine, from the status store
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "process.peak_rss_mb": "MB",
    # span self time per layer, and the tracer's own cost
    **{
        f"self_s.{layer}": "s"
        for layer in ("pass", "catalog", "tier", "stream", "serve", "query")
    },
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def quiet(fn, *args, **kwargs):
    """Call ``fn`` with its stdout captured (the jobs print a JSON line)."""
    with contextlib.redirect_stdout(io.StringIO()):
        return fn(*args, **kwargs)


class Context:
    """What a workload needs from the run: the session, the tracer, the
    work directory, the cores, and the checks' failure list."""

    def __init__(self, spark, tracer: Tracer, work: str, cores: int, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.cores = cores
        self.seed = seed
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, what: str, problems: list[str]) -> None:
        """Count one checked operation; record its problems, if any."""
        self.attempted += 1
        if problems:
            self.failures.append(what)
            for p in problems:
                log(f"CHECK FAILED {what}: {p}")


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


# ------------------------------------------------------------ tier_store

TURNS = inputs.TurnsShape(n_convs=500, days=10, mega_every=120, mega_turns=3_000)
HISTORY_DAYS = 7  # backfilled by the batch job
LIVE_DAYS = 2  # then landed as one drop per day; the core's last days never arrive
WATERMARK = "10 minutes"


class TierStore:
    name = "tier_store"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "tier_store")

    def prepare_inputs(self) -> None:
        pdf = inputs.make_turns(self.ctx.seed, TURNS)
        megas = inputs.mega_convs(pdf, TURNS.mega_turns)
        # the run ends inside the core, where the turns per day are level,
        # not at its edge, where conversations thin out
        ts = pdf["ts"].to_numpy()
        cut = inputs.CORE_START + np.timedelta64(HISTORY_DAYS, "D")
        end = cut + np.timedelta64(LIVE_DAYS, "D")
        pdf = pdf[ts < end].reset_index(drop=True)
        self.history = pdf[pdf["ts"].to_numpy() < cut].reset_index(drop=True)
        self.drops = inputs.day_drops(pdf[pdf["ts"].to_numpy() >= cut])
        self.live = pd.concat(self.drops, ignore_index=True)
        # the last drop's watermark seals every earlier day
        self.sealed_days = sorted(
            self.live["ts"].dt.strftime("%Y-%m-%d").unique()
        )[:-1]
        self.history_dir = os.path.join(self.root, "input")
        inputs.write_parquet(utc(self.history), self.history_dir)
        props = inputs.turns_properties(pdf, megas)
        props.update(
            history_days=HISTORY_DAYS,
            history_turns=len(self.history),
            drops=len(self.drops),
            drop_turns=[len(d) for d in self.drops],
        )
        log(f"input tier_store seed={self.ctx.seed} {props}")

    def run_pass(self, i: int) -> dict:
        from jobs import rollup_job
        from jobs.stream_job import run_cycle
        from insar_spark.sources.catalog import TierStore as Store
        from insar_spark.streaming import rollup_stream as rs

        ctx, tr = self.ctx, self.ctx.tracer
        store_dir = os.path.join(self.root, f"store{i}")
        src = os.path.join(self.root, f"src{i}")
        ck = os.path.join(self.root, f"ck{i}")
        os.makedirs(src)
        argv = [
            "--input", self.history_dir, "--store", store_dir, "--sketch",
            "--master", f"local[{ctx.cores}]",
        ]
        with tr.span("pass.backfill"):
            _, backfill_s = timed(quiet, rollup_job.main, argv)
        store = Store(store_dir)
        points = sum(
            p["rows"]
            for t in tier_names(store)
            for p in store.manifest(t)["partitions"].values()
        )
        with tr.span("pass.resume"):
            resumed, resume_s = timed(quiet, rollup_job.main, argv)

        cycles, freshness, reads, seals, stats_reads = [], [], [], [], []
        for k, drop in enumerate(self.drops):
            # land atomically: the file source must never list a partial file
            name = f"drop-{k}.parquet"
            staged = inputs.write_parquet(utc(drop), src + "_staging", name)
            os.replace(staged, os.path.join(src, name))
            landed = time.perf_counter()
            with tr.span("pass.ingest"):
                seal, cycle_s = timed(run_cycle, ctx.spark, store, src, ck, WATERMARK)
            cycles.append(cycle_s)
            seals.append(seal)
            views = {}
            for view, fn in (
                ("stats", rs.stats_realtime_1h_view),
                ("lb", rs.lb_realtime_1h_view),
                ("m4", rs.m4_realtime_1d_view),
            ):
                t0 = time.perf_counter()
                with tr.span(f"serve.build.{view}"):
                    df = fn(ctx.spark, store)
                with tr.span(f"serve.exec.{view}"):
                    views[view] = df.toPandas()
                reads.append(time.perf_counter() - t0)
                if view == "stats":
                    freshness.append(time.perf_counter() - landed)
                    stats_reads.append(views[view])
        pass_s = backfill_s + resume_s + sum(cycles) + sum(reads)
        return {
            "store": store, "src": src, "seals": seals, "resumed": resumed,
            "views": views, "stats_reads": stats_reads,
            "pass_s": pass_s,
            "points_per_s": points / backfill_s,
            "wait_s": statistics.median(freshness),
            "backfill_points_per_s": points / backfill_s,
            "resume_s": resume_s,
            "ingest_turns_per_s": len(self.live) / sum(cycles),
            "freshness_s": statistics.median(freshness),
            "serve_read_s": statistics.median(reads),
        }

    def check_pass(self, res: dict) -> dict:
        ctx = self.ctx
        written = {
            t: v["written_days"] for t, v in res["resumed"]["tiers"].items()
            if v["written_days"]
        }
        ctx.check(
            "tier_store.resume",
            [f"resume wrote days {written}"] if written else [],
        )
        sealed = sorted(d for s in res["seals"] for d in s["written_days"])
        ctx.check(
            "tier_store.seal",
            [] if sealed == self.sealed_days
            else [f"sealed {sealed}, expected {self.sealed_days}"],
        )
        # after each drop, the stats view is the 1h rollup of what arrived
        for k, got in enumerate(res["stats_reads"]):
            arrived = pd.concat([self.history, *self.drops[: k + 1]], ignore_index=True)
            ctx.check(
                f"tier_store.stats_view.drop{k}",
                compare_frames(got, stats_rollup(arrived, "h")),
            )
        problems, late = check_store(
            ctx.spark, res["store"], self, res["src"], res["views"]
        )
        ctx.check("tier_store.tiers", problems)
        return {"stream.late_rows": late}

    def points_out(self, passes: list[dict], spans) -> float:
        """Rows the tier builds committed to the store."""
        return sum(s.attrs.get("rows", 0) for s in spans if s.name == "catalog.write_tier")

    def bytes_per_point(self, res: dict) -> float:
        store = res["store"]
        tiers = tier_names(store)
        rows = sum(
            p["rows"] for t in tiers for p in store.manifest(t)["partitions"].values()
        )
        return sum(store.tier_bytes(t) for t in tiers) / rows


def utc(pdf: pd.DataFrame) -> pd.DataFrame:
    """Timestamps stored UTC-adjusted, as an ingest pipeline writes them."""
    return pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC"))


def tier_names(store) -> list[str]:
    snap = os.path.join(store.root, "_snapshots")
    return sorted(
        f[:-5] for f in os.listdir(snap)
        if f.endswith(".json") and not f[:-5].endswith("_log")
    )


def stats_rollup(pdf: pd.DataFrame, unit: str) -> pd.DataFrame:
    """Independent pandas reference for the plain-stats tier at ``unit``
    ("min", "h", "D"): the decomposable stats plus first/last by the
    (ts millis, turn_idx) order key."""
    d = pd.DataFrame(
        {
            "conv_id": pdf["conv_id"],
            "window_start": pdf["ts"].dt.floor(unit),
            "text_len": pdf["text"].str.len().astype("float64"),
            "tool": pdf["tool"],
            "ord": pdf["ts"].to_numpy().astype("datetime64[ms]").astype("int64")
            * (1 << 20)
            + pdf["turn_idx"].astype("int64"),
        }
    ).sort_values("ord")
    g = d.groupby(["conv_id", "window_start"], sort=False)
    out = g.agg(
        n_turns=("text_len", "size"),
        n_tool_calls=("tool", "count"),
        sum_text_len=("text_len", "sum"),
        min_text_len=("text_len", "min"),
        max_text_len=("text_len", "max"),
        first_text_len=("text_len", "first"),
        last_text_len=("text_len", "last"),
        first_ord=("ord", "min"),
        last_ord=("ord", "max"),
    ).reset_index()
    return out


def compare_frames(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Order-insensitive frame equality with the oracle checker's
    normalization (``tools/check_oracle.py``)."""
    return oracle_checker().compare("frame", got, exp)


_CHECKER = None


def oracle_checker():
    """``tools/check_oracle.py`` loaded by path (``tools`` is no package)."""
    global _CHECKER
    if _CHECKER is None:
        import importlib.util

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(root, "tools", "check_oracle.py")
        )
        _CHECKER = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_CHECKER)
    return _CHECKER


def check_store(
    spark, store, wl: TierStore, src_dir: str, views: dict
) -> tuple[list[str], int]:
    """Every stored tier against a direct build of the same turns, as one
    Spark job of order-free checksums (row count and the sum of a 64-bit
    row hash per side). Returns the problems and the late-row count."""
    from pyspark.sql import functions as F

    from insar_spark.operators import downsample as D
    from insar_spark.operators import rollup as R
    from insar_spark.operators import sketch as K
    from insar_spark.streaming import rollup_stream as rs

    hist = spark.read.parquet(wl.history_dir)
    live = spark.read.parquet(src_dir)
    sealed_live = live.filter(F.date_format("ts", "yyyy-MM-dd").isin(wl.sealed_days))
    both = hist.unionByName(sealed_live)

    def text_len(df, kind="double"):
        return F.length("text").cast(kind).alias("text_len")

    def src(df, *cols, kind="double"):
        return df.select(*cols, text_len(df, kind))

    # the stats tiers hold the backfilled history plus the sealed live day;
    # the sketch tiers only the backfill (the live cycle streams stats)
    direct = {t: R.rollup_turns(both, t) for t in ("1m", "1h", "1d")}
    h_dbl, h_long = src(hist, "conv_id", "ts"), src(hist, "conv_id", "ts", kind="long")
    h_m4, keys = src(hist, "conv_id", "turn_idx", "ts"), hist.select("conv_id", "ts")
    direct.update({
        "hist_1m": K.hist_rollup(h_dbl, "1m", value_col="text_len"),
        "hist_1h": K.hist_rollup(h_dbl, "1h", value_col="text_len"),
        "lb_1h": K.lb_rollup(h_long, "1h", value_col="text_len"),
        "lb_1d": K.lb_rollup(h_long, "1d", value_col="text_len"),
        "dist_1m": K.distinct_rollup_tall(keys, "1m", m=K.DISTINCT_M_GLOBAL),
        "dist_1h": K.distinct_rollup_tall(keys, "1h", m=K.DISTINCT_M_GLOBAL),
        "hll_1m": K.hll_rollup(keys, "1m"),
        "hll_1h": K.hll_rollup(keys, "1h"),
        "cms_1m": K.cms_rollup(keys, "1m"),
        "cms_1h": K.cms_rollup(keys, "1h"),
        "kmv_1m": K.kmv_rollup(keys, "1m"),
        "kmv_1h": K.kmv_rollup(keys, "1h"),
        "m4_1d": D.m4_downsample(h_m4, "day", value_col="text_len"),
        "m4_1w": D.m4_downsample(h_m4, "week", value_col="text_len"),
    })
    pairs = [
        (f"{tier}/stored", store.read_tier(spark, tier).drop("day"),
         f"{tier}/direct", exp)
        for tier, exp in direct.items()
    ]
    # the sketch views serve the backfilled coarse tier
    for name, fn, tier in (
        ("lb", rs.lb_realtime_1h_view, "lb_1h"),
        ("m4", rs.m4_realtime_1d_view, "m4_1d"),
    ):
        pairs.append((f"view_{name}/read", fn(spark, store),
                      f"view_{name}/direct", direct[tier]))
    keys = [k for a, _, b, _ in pairs for k in (a, b)]
    sides = [checksum(df, k) for a, da, b, db in pairs for k, df in ((a, da), (b, db))]
    sealed_1m = store.read_tier(spark, "1m").filter(F.col("day").isin(wl.sealed_days))
    sides.append(
        sealed_1m.select(
            F.lit("late/sealed").alias("k"),
            F.col("n_turns").cast("decimal(38,0)").alias("n"),
            F.lit(0).cast("decimal(38,0)").alias("h"),
        )
    )
    sums = union_all(sides).groupBy("k").agg(
        F.sum("n").alias("n"), F.sum("h").alias("h")
    )
    got = {r["k"]: (int(r["n"]), int(r["h"])) for r in sums.collect()}
    rows = {k: got.get(k, (0, 0)) for k in ("late/sealed", *keys)}
    problems = [
        f"{a} != {b}: (rows, hash) {rows[a]} != {rows[b]}"
        for a, b in zip(keys[0::2], keys[1::2])
        if rows[a] != rows[b]
    ]
    landed_sealed = int(
        wl.live["ts"].dt.strftime("%Y-%m-%d").isin(wl.sealed_days).sum()
    )
    late = landed_sealed - rows["late/sealed"][0]
    if late:
        problems.append(f"{late} landed turns missing from the sealed 1m tier")
    # the collected real-time reads must be the rows the direct check saw
    for name in ("lb", "m4"):
        if len(views[name]) != rows[f"view_{name}/read"][0]:
            problems.append(f"view_{name}: collected {len(views[name])} rows")
    return problems, late


def checksum(df, key: str):
    """Per-row (key, 1, 64-bit hash of every column) for one summing pass."""
    from pyspark.sql import functions as F

    return df.select(
        F.lit(key).alias("k"),
        F.lit(1).cast("decimal(38,0)").alias("n"),
        F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
        .cast("decimal(38,0)").alias("h"),
    )


def union_all(dfs):
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# ------------------------------------------------------------- analytics

# sf0.01's events; 200 documents and 100 embeddings instead of its 500 each
# keep the run inside the budget (README, "Scope")
TABLES = inputs.TablesShape(
    events=10_000, users=150, days=30, documents=200, embeddings=100
)
# a CTE head ``WITH name AS (`` or ``, name AS (``, but not a named window
_MATERIALIZE = re.compile(
    r"(\bWITH\s+|,\s*)(\w+)\s+AS\s+\((?!\s*(?:PARTITION|ORDER)\b)", re.I
)


class Analytics:
    name = "analytics"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "analytics")
        self.expected: dict[str, pd.DataFrame] = {}

    def prepare_inputs(self) -> None:
        tables = inputs.make_tables(self.ctx.seed, TABLES)
        self.sf_dir = os.path.join(self.root, "sf")
        inputs.write_tables(tables, self.sf_dir)
        log(f"input analytics seed={self.ctx.seed} {inputs.tables_properties(tables)}")

    def run_pass(self, i: int) -> dict:
        import __spark_entry__ as entry

        ctx, tr = self.ctx, self.ctx.tracer
        fns = entry.queries()
        per_query, outputs, rows = {}, {}, 0
        for name in QUERIES:
            fam = FAMILY_OF[name]
            t0 = time.perf_counter()
            try:
                with tr.span(f"query.build.{fam}", query=name):
                    df = fns[name](ctx.spark, self.sf_dir)
                with tr.span(f"query.exec.{fam}", query=name):
                    outputs[name] = df.toPandas()
                rows += len(outputs[name])
            except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                outputs[name] = f"{type(exc).__name__}: {exc}"
            per_query[name] = time.perf_counter() - t0
        sweep = sum(per_query.values())
        out = {
            "outputs": outputs,
            "pass_s": sweep,
            "points_per_s": rows / sweep,
            "wait_s": statistics.geometric_mean(per_query.values()),
            "analytics_sweep_s": sweep,
        }
        for fam, qs in FAMILIES.items():
            out[f"analytics.{fam}_s"] = sum(per_query[q] for q in qs)
        return out

    def check_pass(self, res: dict) -> dict:
        checker = oracle_checker()
        if not self.expected:
            self.expected = self._oracles()
        for name in QUERIES:
            got, exp = res["outputs"][name], self.expected[name]
            if isinstance(got, str):
                problems = [f"query raised {got[:300]}"]
            elif isinstance(exp, str):
                problems = [exp]
            else:
                problems = checker.compare(name, got, exp)
            self.ctx.check(f"analytics.{name}", problems)
        return {}

    def points_out(self, passes: list[dict], spans) -> float:
        """Result rows of the tier-family queries."""
        return sum(
            len(p["outputs"][q]) for p in passes for q in FAMILIES["tiers"]
            if not isinstance(p["outputs"][q], str)
        )

    def _oracles(self) -> dict:
        """Each query's ``oracle_sql()`` in DuckDB over the same files.

        The oracles unroll recursions into long chains of CTEs that DuckDB
        inlines at every reference, so two of them need more than 4 GB at
        any input size; marking every CTE ``MATERIALIZED`` evaluates each
        once, which changes no result and keeps each under 1 GB."""
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{os.path.join(self.root, 'duck')}'")
            con.execute("SET memory_limit='1GB'")
            con.execute("SET threads=4")
            for t in ("events", "documents", "embeddings"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            out = {}
            for name in QUERIES:
                try:
                    out[name] = con.execute(
                        _MATERIALIZE.sub(r"\1\2 AS MATERIALIZED (", sql[name])
                    ).df()
                except duckdb.Error as exc:
                    out[name] = f"oracle error: {exc}"
            return out
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (TierStore, Analytics)}
