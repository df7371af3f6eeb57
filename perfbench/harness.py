"""One benchmark run: set-up, a cold pass whose outputs are checked
against the DuckDB oracle, settle passes, then measured passes for the
requested time.

Each query is timed as ``fn(spark, sf_dir)`` (the build phase) followed
by the sink (the sink phase), each under its own Spark job group.  The
status store, the streaming listener and the process table are read
between timed regions; layer spans are recorded only in traced passes.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from collections.abc import Callable

import pyspark
from pyspark.sql import DataFrame, SparkSession

from perfbench import oracle, sparkstats
from perfbench.tracing import Tracer

PACKAGE = "mahout_samsara_book_spark"

# untimed noop passes between the cold pass and the measured ones: the
# JIT keeps compiling for a few passes after the first
SETTLE_PASSES = 2

# counts that must repeat exactly across warm passes and across runs
DETERMINISTIC = ("jobs", "barrier_jobs", "shuffle_write_bytes", "epochs")

# package layers whose span self time is reported
SPAN_LAYERS = (
    "sources",
    "drm",
    "kernels",
    "algorithms",
    "operators",
    "functions",
    "partitioning",
    "cache",
    "streaming",
)


def _noop_sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect_sink(df: DataFrame):
    return df.toPandas()


class Runner:
    """Runs queries against one live session and records what each did."""

    def __init__(self, spark: SparkSession, sf_dir: str, registry: dict) -> None:
        from mahout_samsara_book_spark.cache import release_tracked

        self.spark = spark
        self.sf_dir = sf_dir
        self.registry = registry
        self.cursor = sparkstats.JobCursor(spark)
        self.listener = sparkstats.EpochListener()
        spark.streams.addListener(self.listener)
        self._release = release_tracked
        self.tracer = Tracer(PACKAGE)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def query(self, name: str, sink: Callable, traced: bool = False):
        """Run one query; returns (record, sink result or None)."""
        sc = self.spark.sparkContext
        rec: dict = {"query": name, "build_s": 0.0, "sink_s": 0.0}
        result = None
        build_jobs: list[int] = []
        self.cursor.advance()
        epochs0, epoch_s0 = self.listener.epochs, self.listener.epoch_s
        if traced:
            self.tracer.take()
        try:
            sc.setJobGroup(f"perfbench:{name}:build", name)
            t0 = time.perf_counter()
            df = self.registry[name](self.spark, self.sf_dir)
            rec["build_s"] = time.perf_counter() - t0
            build_jobs = self.cursor.advance()
            sc.setJobGroup(f"perfbench:{name}:sink", name)
            t0 = time.perf_counter()
            result = sink(df)
            rec["sink_s"] = time.perf_counter() - t0
            rec["analysis_s"] = sparkstats.analysis_seconds(df)
        except Exception as exc:  # noqa: BLE001 — a failing query is counted
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            sc._jsc.clearJobGroup()
        if traced:
            rec["self_s"], rec["calls"] = self.tracer.take()
        rec["persists"] = self._release()
        sink_jobs = self.cursor.advance()
        if "error" in rec and not rec["build_s"]:
            build_jobs, sink_jobs = sink_jobs, []  # the build phase raised
        rec.update(sparkstats.stage_totals(self.spark, build_jobs + sink_jobs))
        rec["wall_s"] = rec["build_s"] + rec["sink_s"]
        rec["barrier_jobs"] = len(build_jobs)
        rec["jobs"] = len(build_jobs) + len(sink_jobs)
        rec["epochs"] = self.listener.epochs - epochs0
        rec["epoch_s"] = self.listener.epoch_s - epoch_s0
        return rec, result

    def run_pass(self, names, sink: Callable, traced: bool = False):
        if traced:
            self.tracer.install()
        try:
            return [self.query(n, sink, traced) for n in names]
        finally:
            if traced:
                self.tracer.uninstall()


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _pass_totals(recs: list[dict]) -> dict:
    keys = (
        "wall_s",
        "build_s",
        "sink_s",
        "jobs",
        "barrier_jobs",
        "epochs",
        "epoch_s",
        "persists",
        "analysis_s",
        *sparkstats.STAGE_FIELDS,
    )
    tot = {k: sum(r.get(k, 0) for r in recs) for k in keys}
    for layer in SPAN_LAYERS:
        tot[f"{layer}.self_s"] = sum(r.get("self_s", {}).get(layer, 0.0) for r in recs)
        tot[f"{layer}.calls"] = sum(r.get("calls", {}).get(layer, 0) for r in recs)
    return tot


def per_layer_metrics(untraced: list[dict], traced: list[dict]) -> dict:
    """Median over passes of each per-layer pass total: Spark and
    streaming numbers from untraced passes, spans from traced ones."""

    def med(passes, key):
        return _median([p[key] for p in passes])

    m = {
        "query.build_s": (med(untraced, "build_s"), "s"),
        "query.sink_s": (med(untraced, "sink_s"), "s"),
        "spark.jobs": (med(untraced, "jobs"), "count"),
        "spark.barrier_jobs": (med(untraced, "barrier_jobs"), "count"),
        "spark.stages": (med(untraced, "stages"), "count"),
        "spark.tasks": (med(untraced, "tasks"), "count"),
        "spark.failed_tasks": (med(untraced, "failed_tasks"), "count"),
        "spark.executor_run_s": (med(untraced, "executor_run_s"), "s"),
        "spark.executor_cpu_s": (med(untraced, "executor_cpu_s"), "s"),
        "spark.offcpu_s": (
            _median([p["executor_run_s"] - p["executor_cpu_s"] for p in untraced]),
            "s",
        ),
        "spark.gc_s": (med(untraced, "gc_s"), "s"),
        "spark.shuffle_write_bytes": (med(untraced, "shuffle_write_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (med(untraced, "shuffle_read_bytes"), "bytes"),
        "spark.spill_bytes": (med(untraced, "spill_bytes"), "bytes"),
        "spark.output_bytes": (med(untraced, "output_bytes"), "bytes"),
        "catalyst.analysis_s": (med(untraced, "analysis_s"), "s"),
        "cache.persists": (med(untraced, "persists"), "count"),
        "streaming.epochs": (med(untraced, "epochs"), "count"),
        "streaming.epoch_s": (med(untraced, "epoch_s"), "s"),
    }
    for layer in SPAN_LAYERS:
        m[f"{layer}.self_s"] = (med(traced, f"{layer}.self_s"), "s")
    for layer in ("sources", "drm"):
        m[f"{layer}.calls"] = (med(traced, f"{layer}.calls"), "count")
    m["trace.overhead_s"] = (med(traced, "wall_s") - med(untraced, "wall_s"), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def determinism_drift(passes: list[list[dict]]) -> list[str]:
    """Queries whose deterministic counts differ between passes."""
    first: dict[str, tuple] = {}
    drift = []
    for recs in passes:
        for r in recs:
            counts = tuple(r[k] for k in DETERMINISTIC)
            seen = first.setdefault(r["query"], counts)
            if counts != seen:
                drift.append(
                    f"{r['query']}: {dict(zip(DETERMINISTIC, seen))} then "
                    f"{dict(zip(DETERMINISTIC, counts))}"
                )
    return drift


def check_outputs(results, oracles: dict[str, str], con) -> dict[str, str]:
    """Failure reason per query whose (record, output) pair raised or
    does not match its ``oracle_sql()`` twin run by DuckDB."""
    failures = {}
    for rec, out in results:
        name = rec["query"]
        if "error" in rec:
            failures[name] = rec["error"]
        elif name not in oracles:
            failures[name] = "no oracle_sql() entry"
        else:
            reason = oracle.mismatch(out, con.execute(oracles[name]).fetchdf())
            if reason:
                failures[name] = reason
    return failures


def _environment(spark: SparkSession, sf: float) -> dict:
    sc = spark.sparkContext
    return {
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "sf": sf,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
    }


def _geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(max(v, 1e-9)) for v in values))


def run(
    spark_factory: Callable[[], SparkSession],
    sf_dir: str,
    sf: float,
    names: tuple[str, ...],
    seed: int,
    seconds: float,
    trace: bool,
    setups: int,
    deadline: float,
) -> dict:
    """Run one workload.  Returns a dict with ``metrics`` (end-to-end, or
    per-layer when ``trace``), ``attempted``, ``failed``, ``problems``
    (determinism and tracing checks that broke) and ``detail``."""
    import __spark_entry__ as entry
    from mahout_samsara_book_spark.sources.tables import TABLES, load_table

    rng = random.Random(seed)

    def order():
        return rng.sample(names, len(names))

    detail: dict = {"loadavg_start": os.getloadavg()}

    # set-up: build the session and resolve every fixture table, several
    # times; the first one also launches the JVM
    setup_s = []
    spark = None
    for _ in range(setups):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = spark_factory()
        for t in TABLES:
            load_table(spark, sf_dir, t)
        setup_s.append(time.perf_counter() - t0)
    detail["environment"] = _environment(spark, sf)

    runner = Runner(spark, sf_dir, entry.queries())
    try:
        # peak memory covers a fixed amount of work, so it does not depend
        # on how many measured passes fit into a run on a given machine
        detail["cold_pass_started"] = time.monotonic()
        with sparkstats.MemorySampler(spark.sparkContext._gateway.proc.pid) as mem:
            cold = runner.run_pass(order(), _collect_sink)
            settle = [
                [r for r, _ in runner.run_pass(order(), _noop_sink)]
                for _ in range(SETTLE_PASSES)
            ]
        warm: list[list[dict]] = []
        traced_flags: list[bool] = []
        measured = 0.0
        # a traced run interleaves untraced and traced passes as U T T U,
        # so the passes still getting faster do not favour either side
        while (measured < seconds or len(warm) < (4 if trace else 1)) and (
            time.monotonic() < deadline or not warm
        ):
            traced = trace and len(warm) % 4 in (1, 2)
            recs = [r for r, _ in runner.run_pass(order(), _noop_sink, traced)]
            warm.append(recs)
            traced_flags.append(traced)
            measured += sum(r["wall_s"] for r in recs)
        detail["loadavg_end"] = os.getloadavg()
        heap_committed = sparkstats.heap_committed_bytes(spark)

        # oracle check of the cold pass's outputs, outside the timed region
        t0 = time.perf_counter()
        con = oracle.connect(sf_dir, TABLES)
        try:
            failures = check_outputs(cold, entry.oracle_sql(), con)
        finally:
            con.close()
        detail["check_s"] = time.perf_counter() - t0
    finally:
        runner.close()

    cold_recs = [r for r, _ in cold]
    noop_passes = settle + warm
    for r in (r for recs in noop_passes for r in recs if "error" in r):
        failures.setdefault(r["query"], r["error"])
    attempted = len(cold_recs) + sum(len(p) for p in noop_passes)
    failed = sum(r["query"] in failures for r in cold_recs) + sum(
        "error" in r for recs in noop_passes for r in recs
    )

    untraced = [p for p, t in zip(warm, traced_flags) if not t]
    traced_passes = [p for p, t in zip(warm, traced_flags) if t]
    problems = []
    drift = determinism_drift(noop_passes)
    if drift:
        problems.append("counts differ between warm passes: " + "; ".join(drift))
    if traced_passes:
        jobs_off = {r["query"]: r["jobs"] for r in untraced[0]}
        jobs_on = {r["query"]: r["jobs"] for r in traced_passes[0]}
        if jobs_on != jobs_off:
            problems.append(f"tracing changed spark.jobs: {jobs_off} vs {jobs_on}")

    untraced_totals = [_pass_totals(p) for p in untraced]
    traced_totals = [_pass_totals(p) for p in traced_passes]
    pass_walls = [t["wall_s"] for t in untraced_totals]
    per_query = {
        n: _median([r["wall_s"] for p in untraced for r in p if r["query"] == n])
        for n in names
    }
    if trace:
        metrics = per_layer_metrics(untraced_totals, traced_totals)
    else:
        metrics = {
            "setup_s": {"value": _median(setup_s), "unit": "s"},
            "cold_pass_s": {
                "value": sum(r["wall_s"] for r in cold_recs),
                "unit": "s",
            },
            "pass_s": {"value": _median(pass_walls), "unit": "s"},
            "query_geomean_s": {"value": _geomean(per_query.values()), "unit": "s"},
            # the heap is committed and touched before the first query, so
            # it is a fixed share of the peak that the program cannot move;
            # leaving it out keeps the bound on the part that it can
            "peak_rss_mb": {
                "value": (mem.peak - heap_committed) / 2**20,
                "unit": "MiB",
            },
        }
    detail.update(
        {
            "setup_s": setup_s,
            "peak_pss_mb": mem.peak / 2**20,
            "peak_pss_jvm_mb": mem.peak_root / 2**20,
            "heap_committed_mb": heap_committed / 2**20,
            "max_processes": mem.max_processes,
            "cold_order": [r["query"] for r in cold_recs],
            "settle_pass_s": [_pass_totals(p)["wall_s"] for p in settle],
            "warm_pass_s": pass_walls,
            "traced_pass_s": [t["wall_s"] for t in traced_totals],
            "per_query_median_s": per_query,
            "cold": cold_recs,
            "warm_last": warm[-1],
            "failures": failures,
            "counts": {r["query"]: [r[k] for k in DETERMINISTIC] for r in untraced[-1]},
        }
    )
    return {
        "metrics": metrics,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "detail": detail,
    }
