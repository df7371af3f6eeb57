"""Benchmark harness: runs the registered queries at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on ``local[$SPARK_GRAFT_CPUS]``
and prints ONE JSON line with per-query wall seconds.

Execution is forced with the ``noop`` sink (full materialization of every
output column — ``count()`` would let Catalyst prune the compute).

Methodology follows the reference's own micro-benchmark harness
(``MThreadSuite.scala:22-46``: warm-up pass, then timed reps): each
query runs ``$SPARK_GRAFT_BENCH_REPS`` times (default 2) and the MIN is
recorded — the first rep absorbs Catalyst analysis, codegen compilation
and JIT for that query's operator mix, so rep ≥ 2 measures steady-state
engine throughput. On this shared box the min is also the least-noise
estimator (co-tenant spikes are one-sided). Set
``SPARK_GRAFT_BENCH_REPS=1`` for a cold-plan run.

Box-noise protocol (round 12): a control probe — min-of-3 cpu trio +
one disk-bound parquet write/read — runs at the bookends and every 30
queries; the JSON carries the full probe ledger, a per-query
``normalized_queries`` map (each query divided by its nearest probe's
hottest clamped ratio), and, when the start bookend was ≥1.5× hotter
than the end bookend, the head block re-measures once on the quiet box
(``head_rerun``).  Raw ``queries`` stays the headline; normalization
adjudicates co-tenant bursts per query instead of per run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from mahout_samsara_book_spark.cache import release_tracked
from mahout_samsara_book_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="bench")
    # warm the JVM once so per-query numbers measure the queries, not
    # session bring-up: parquet scan, a shuffle (codegen'd aggregate),
    # and the Arrow/pandas-UDF bridge — otherwise whichever query runs
    # first absorbs JIT + Arrow initialization
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").count().count()

    def _ident(batches):
        for b in batches:
            yield b

    li.limit(1000).select("l_orderkey").mapInPandas(
        _ident, schema="l_orderkey long"
    ).count()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    times: dict[str, float] = {}
    errors: dict[str, str] = {}

    # Box-noise calibration control (round-8, VERDICT r7 item 2): two
    # rounds running the verdict had to adjudicate 1.3-2x phantom drift
    # on untouched code by hand.  A fixed 3-query control set runs
    # min-of-5 at the START and END of every bench; the recorded JSON
    # carries both plus `control_ratio` = measured control wall /
    # CONTROL_REF_SEC (re-pinned round 13 to the memo-bypassing form —
    # see the constants below).  Round-over-round comparisons should divide the
    # headline drift by control_ratio before flagging regressions —
    # a control_ratio of 1.4 means the box, not the code, is 1.4x
    # slower this run.  Control queries are deliberately boring: a
    # codegen'd TPC-H aggregate, a tokenize+explode+groupBy, and a
    # narrow numeric colsum — no caches, no layouts, no Python loops.
    control_set = ("rel_pricing_summary", "text_tokenize_counts", "drm_colsums")
    # Round-13 (VERDICT r12 item 3): controls now run with the table-
    # resolution memo BYPASSED (see _run_control), so the references
    # are re-pinned to the bypassing form — the old refs (0.70 min3 /
    # 2.004 min5) were measured through code whose speed the rounds
    # were themselves optimizing, so control_ratio conflated box drift
    # with real optimization.  Pinned from this round's first QUIET
    # end bookend running the bypassing form (sf0.1, local[32]:
    # min3 sum 0.654, min5 sum 0.637, disk 0.354 — the per-call
    # resolution cost the bypass re-introduces is mostly absorbed by
    # Spark's session file-status cache, so the bypassing floor sits
    # only ~60 ms above the old memoized floor).
    CONTROL_REF_SEC = 0.64  # min-of-5 family, bypassing form
    CONTROL_REF3_SEC = 0.65  # min-of-3 family, bypassing form
    # Disk-bound control probe (VERDICT r11 item 1b): copytree/append
    # heavy rows (dedup_ingest_lifecycle, ev_stream_ingest) are
    # invisible to CPU-bound controls — a co-tenant saturating the
    # disk shows a clean cpu ratio while tripling those rows.  One
    # probe = write an 8-file parquet of 200k synthetic rows +
    # read-sum it back.  Reference pinned from a quiet-box min-of-5
    # (round 12, load ~3.5: reps 0.607/0.492/0.500/0.480 after a
    # 1.43 s writer-init first rep — the in-run probes always run
    # warm, so the reference is the warm floor).
    DISK_REF_SEC = 0.48

    from mahout_samsara_book_spark.tmpdirs import fresh_tmpdir

    disk_dir = fresh_tmpdir("benchdisk")

    def _disk_probe(reps: int = 3) -> float:
        from pyspark.sql import functions as F

        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            spark.range(0, 200_000).select(
                "id", (F.col("id") % 97).alias("v")
            ).repartition(8).write.mode("overwrite").parquet(disk_dir)
            spark.read.parquet(disk_dir).groupBy().sum("v").collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    def _run_control(
        registry, reps: int = 5
    ) -> tuple[dict[str, float], dict[str, float]]:
        """(min over all reps, min over the FIRST 3 reps) per control
        query.  The second dict makes the 5-rep bookends directly
        comparable to the 3-rep mid-run probes (ADVICE r9: min-of-3 has
        a systematic high bias vs min-of-5, so the two ratio families
        must not share a reference silently).

        Round-13 (VERDICT r12 item 3): controls run with the table-
        resolution memo BYPASSED — the r12 memo made the control trio
        faster for code reasons, so round-over-round control ratios
        conflated box drift with real optimization.  Bypass reads pay
        the full per-call resolution cost every time, making the
        yardstick code-independent again; the references below are
        re-pinned to the bypassing form."""
        from mahout_samsara_book_spark.sources import tables as _tables

        out: dict[str, float] = {}
        out3: dict[str, float] = {}
        _tables.MEMO_BYPASS = True
        try:
            for cname in control_set:
                cfn = registry.get(cname)
                if cfn is None:
                    continue
                cbest = float("inf")
                cbest3 = float("inf")
                for rep in range(reps):
                    t0 = time.perf_counter()
                    cfn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    dt = time.perf_counter() - t0
                    cbest = min(cbest, dt)
                    if rep < 3:
                        cbest3 = min(cbest3, dt)
                release_tracked()
                out[cname] = round(cbest, 4)
                out3[cname] = round(cbest3, 4)
        finally:
            _tables.MEMO_BYPASS = False
        return out, out3

    # Order-contamination guard (round-7): queries scheduled right after
    # a huge one read 8-15x inflated (GC debt + evicted code/page cache
    # from the monster's working set bled into the next measurement —
    # graph_degree_hist and ann_ivfpq_probe needed manual isolated
    # re-measurement two rounds running). Two-part fix: the declared
    # heaviest queries run LAST in a separate phase so nothing measures
    # in their wake, and any query whose rep exceeded the settle
    # threshold is followed by an explicit JVM+Python GC barrier before
    # the next query's clock starts.
    heavy_last = ("ann_ivfpq_topk",)
    settle_after_sec = 10.0

    def _settle(spark) -> None:
        import gc
        import time as _t

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        _t.sleep(1.0)

    registry = entry.queries()
    # debugging subset: SPARK_GRAFT_BENCH_ONLY=q1,q2 limits the run to
    # those queries (controls still run — they're registry members).
    # The driver never sets this; official runs are always full.
    only = set(
        filter(None, os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(","))
    )
    if only:
        registry = {
            n: f
            for n, f in registry.items()
            if n in only or n in control_set
        }
    _disk_probe(reps=1)  # warm the parquet write path (writer init ~1.4 s
    # on first use — the pinned DISK_REF_SEC is the warm floor)
    control_start, control_start3 = _run_control(registry)
    disk_start = _disk_probe()
    ordered = [
        (n, f) for n, f in registry.items() if n not in heavy_last
    ] + [(n, registry[n]) for n in heavy_last if n in registry]
    # Probe ledger (VERDICT r11 item 1a): every control observation —
    # bookends AND mid-run — lands here keyed by the query index it
    # precedes, so each query can be normalized by its NEAREST probe
    # instead of the min-of-bookends that hid the r11 start burst.
    # cpu3/disk3 are min-of-3 seconds; the ratios divide by the
    # QUIET-box references, clamped at 1.0 for normalization (a
    # faster-than-reference box is never credited as a speedup).
    probes: list[dict] = [
        {
            "pos": 0,
            "cpu3": round(sum(control_start3.values()), 4),
            "disk3": disk_start,
            "cpu_ratio": round(
                sum(control_start3.values()) / CONTROL_REF3_SEC, 3
            ),
            "disk_ratio": round(disk_start / DISK_REF_SEC, 3),
        }
    ]
    # Mid-run control probes (round-9, VERDICT r8 item 5): the start/end
    # control pair cannot see mid-run co-tenant bursts — the r8 sf1
    # table needed hand re-measurement of queries that ran during a
    # 3-11x load spike.  Every CONTROL_EVERY queries the control trio
    # re-runs (min-of-3 — cheaper than the min-of-5 bookends, still a
    # one-sided noise floor) and the per-segment ratio vs
    # CONTROL_REF_SEC is recorded.  NOTE the reference is a min-of-5,
    # so segment ratios carry a small systematic HIGH bias (min-of-3 ≥
    # min-of-5 in expectation) — they adjudicate the 1.3x+ co-tenant
    # swings that needed hand re-measurement, not percent-level drift;
    # don't divide a query's time by its segment ratio and call the
    # result a speedup.
    CONTROL_EVERY = 30
    control_mid: list[dict] = []
    for qi, (name, fn) in enumerate(ordered):
        if qi and qi % CONTROL_EVERY == 0:
            seg, _ = _run_control(registry, reps=3)
            disk_mid = _disk_probe()
            control_mid.append(
                {
                    "after_query": qi,
                    "control": seg,
                    "reps": 3,
                    "ratio": round(sum(seg.values()) / CONTROL_REF_SEC, 3),
                    # min3-vs-min3 — the bias-free family (ADVICE r9):
                    # this run's start bookend restricted to its first
                    # 3 reps is the reference, so a mid-run spike reads
                    # directly as ratio_vs_start3 > 1
                    "ratio_vs_start3": round(
                        sum(seg.values())
                        / (sum(control_start3.values()) or 1.0),
                        3,
                    ),
                }
            )
            probes.append(
                {
                    "pos": qi,
                    "cpu3": round(sum(seg.values()), 4),
                    "disk3": disk_mid,
                    "cpu_ratio": round(
                        sum(seg.values()) / CONTROL_REF3_SEC, 3
                    ),
                    "disk_ratio": round(disk_mid / DISK_REF_SEC, 3),
                }
            )
        best = float("inf")
        spent = 0.0
        worst_rep = 0.0
        try:
            for _ in range(reps):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = min(best, dt)
                worst_rep = max(worst_rep, dt)
                spent += dt
                # bound the harness's wall time per query WITHOUT letting
                # a cold first rep (codegen/JIT-dominated) stand as the
                # recorded number: a >30s first rep still gets its warm
                # rep — skipping it once recorded 42s for a query whose
                # steady state is 2.5s — and only a genuinely huge query
                # (budget 120s) stops early
                if spent > 120.0:
                    break
            times[name] = round(best, 3)
        except Exception as e:  # noqa: BLE001 — any query failure is recorded
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
        finally:
            # drop operator-persisted intermediates so a 160+-query run
            # doesn't accumulate cache blocks across queries
            release_tracked()
            # per-rep trigger (ADVICE r7): ANY single rep exceeding the
            # threshold leaves GC debt behind — cumulative `spent` also
            # fired on many-cheap-reps, which only wasted a barrier
            if worst_rep > settle_after_sec:
                _settle(spark)
    control_end, control_end3 = _run_control(registry)
    disk_end = _disk_probe()
    probes.append(
        {
            "pos": len(ordered),
            "cpu3": round(sum(control_end3.values()), 4),
            "disk3": disk_end,
            "cpu_ratio": round(
                sum(control_end3.values()) / CONTROL_REF3_SEC, 3
            ),
            "disk_ratio": round(disk_end / DISK_REF_SEC, 3),
        }
    )
    # Head re-run (VERDICT r11 item 1c; made UNCONDITIONAL in round 13
    # per VERDICT r12 items 2c/5): the r11 record carried a 142.6 s
    # lifecycle row because the rotation head ran inside a start-of-run
    # burst.  The r12 fix re-ran the head block only when the start
    # bookend was ≥1.5× hotter than the end bookend — a one-sided
    # protocol (head rows got min-of-3 only on rounds where the
    # trigger fired, exactly the rounds showcasing them).  Now the
    # first CONTROL_EVERY queries ALWAYS get one extra rep after the
    # end bookend, every round, and each keeps its min — symmetric
    # reps round over round, and the record stays clean when the run
    # started hot.
    head_rerun: list[str] = []
    start_p, end_p = probes[0], probes[-1]
    for name, fn in ordered[:CONTROL_EVERY]:
        if name not in times:
            continue
        try:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            if dt < times[name]:
                times[name] = round(dt, 3)
            head_rerun.append(name)
        except Exception:  # noqa: BLE001 — keep the recorded time
            pass
        finally:
            release_tracked()
    if (
        start_p["cpu3"] > 1.5 * end_p["cpu3"]
        or start_p["disk3"] > 1.5 * end_p["disk3"]
    ):
        # the head block's minima now come from the end-bookend-quiet
        # box: normalize by THAT probe, keeping the hot original on
        # record under pre_rerun
        probes[0] = {
            **end_p,
            "pos": 0,
            "rerun_of_head": True,
            "pre_rerun": {
                k: start_p[k]
                for k in ("cpu3", "disk3", "cpu_ratio", "disk_ratio")
            },
        }
    # Per-query normalization: divide each query by its NEAREST
    # probe's hottest clamped ratio.  Raw `queries` stays the
    # headline; `normalized_queries` is the burst-adjudicated view
    # (never below raw/1.0 — a quiet box is not a speedup).
    pos_of = {name: i for i, (name, _fn) in enumerate(ordered)}
    normalized = {}
    for name, t in times.items():
        qpos = pos_of.get(name, 0)
        near = min(probes, key=lambda p: abs(p["pos"] - qpos))
        ratio = max(1.0, near["cpu_ratio"], near["disk_ratio"])
        normalized[name] = round(t / ratio, 3)
    control_sec = round(
        min(sum(control_start.values()), sum(control_end.values())) or 1.0, 4
    )
    total = round(sum(times.values()), 3)
    out = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf),
        "control_start": control_start,
        "control_end": control_end,
        "control_start_min3": control_start3,
        "control_end_min3": control_end3,
        "control_mid": control_mid,
        "control_ref_sec": CONTROL_REF_SEC,
        "control_ratio": round(control_sec / CONTROL_REF_SEC, 3),
        "control_ref3_sec": CONTROL_REF3_SEC,
        "disk_ref_sec": DISK_REF_SEC,
        "probes": probes,
        "normalized_queries": normalized,
        "normalized_total": round(sum(normalized.values()), 3),
    }
    if head_rerun:
        out["head_rerun"] = head_rerun
    # first-invocation ORC layout write time (round-9, ADVICE r8): the
    # fmt_orc_roundtrip number above times the READ path on warm reps;
    # surface the write edge's cost alongside so comparisons aren't
    # apples-to-oranges
    try:
        import entry_rel
        from mahout_samsara_book_spark.sources.tables import (
            source_fingerprint,
        )

        # key the lookup by THIS run's sf_dir fingerprint (ADVICE r9):
        # a global min() could report a write from a different scale
        # factor if the process touched several sf_dirs
        wkey = (sf_dir, source_fingerprint(sf_dir, "events"))
        if wkey in entry_rel.ORC_WRITE_SECS:
            out["fmt_orc_write_sec"] = round(
                entry_rel.ORC_WRITE_SECS[wkey], 3
            )
    except Exception:  # noqa: BLE001 — reporting only
        pass
    if errors:
        out["errors"] = errors
    line = json.dumps(out)
    print(line)
    # side-file discipline (VERDICT r9 item 6): the driver's recorded
    # BENCH_r{N}.json keeps only a 2000-char tail, so every run also
    # leaves the FULL per-query JSON in-tree — round-over-round
    # comparison stays mechanical without hand-reconstruction
    try:
        if not only:  # subset debug runs must not clobber the record
            here = os.path.dirname(os.path.abspath(__file__))
            with open(
                os.path.join(here, "BENCH_last.queries.json"), "w"
            ) as f:
                f.write(line + "\n")
    except Exception:  # noqa: BLE001 — reporting only
        pass
    spark.stop()


if __name__ == "__main__":
    main()
