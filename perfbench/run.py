"""Layered benchmark of the Samsara engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload samsara_algebra --seed 0 \
        --seconds 8 --trace 0

Writes seeded fixture tables, runs the workload's registry queries on
``local[<cores>]`` and prints, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a JSON object with the run's details (environment,
per-query records, oracle failures).

Everything the run writes (fixtures, Spark local dirs, temp dirs, the
warehouse) stays under ``.perfbench_work/`` in the repository root and
is removed at exit, except the ledger of per-query counts that lets the
next run with the same workload, seed, core count and source code check
that they repeat.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
SETUPS = 3
# a run is cut off after TIME_LIMIT_S; no warm pass starts after
# PASS_DEADLINE_S, which leaves time for the oracle check and shutdown
TIME_LIMIT_S = 125
PASS_DEADLINE_S = 80


class _Timeout(BaseException):
    """Raised by the run-time alarm; not an ``Exception``, so the
    per-query handler that counts failed queries does not swallow it."""


def _parse(argv):
    from perfbench.workloads import DEFAULT_SEED, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_environment(work: str) -> dict[str, str]:
    """Point every writer at ``work``; must run before pyspark starts."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "fixtures")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(work)
    return dirs


def _ledger_key(workload: str, seed: int, sf: float, queries) -> str:
    """Identifies runs whose counts must agree: same workload, seed, sf,
    core count and pyspark, and the same program and benchmark sources,
    so a code change starts a new entry instead of reading as drift."""
    import pyspark

    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for pkg in ("mahout_samsara_book_spark", "perfbench"):
        files += glob.glob(os.path.join(ROOT, pkg, "**", "*.py"), recursive=True)
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return ":".join(
        (
            workload,
            str(seed),
            str(sf),
            f"cpus={os.environ['SPARK_GRAFT_CPUS']}",
            f"pyspark={pyspark.__version__}",
            h.hexdigest()[:16],
            ",".join(queries),
        )
    )


def _ledger_check(key: str, counts: dict) -> list[str]:
    """Compare per-query counts with an earlier run under the same key
    in this checkout; record them if there was none."""
    path = os.path.join(WORK_ROOT, "ledger.json")
    ledger = {}
    if os.path.exists(path):
        with open(path) as f:
            ledger = json.load(f)
    earlier = ledger.get(key)
    if earlier is None:
        ledger[key] = counts
        with open(path, "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
        return []
    return [
        f"{q}: {earlier.get(q)} in an earlier run, {c} now"
        for q, c in counts.items()
        if earlier.get(q) != c
    ]


def _stop_spark() -> None:
    """Stop the session, the JVM and the Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    from perfbench.sparkstats import descendants, wait_gone

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    tree = descendants(proc.pid)
    try:
        if sc is not None:
            sc.stop()
        gateway.shutdown()
    finally:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    for pid in wait_gone(tree, 15):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(tree, 5)


def main(argv=None) -> int:
    started = time.monotonic()
    sys.path.insert(0, ROOT)
    args = _parse(argv)
    missing = [
        p
        for p in ("__spark_entry__.py", "mahout_samsara_book_spark/__init__.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: program not found in {ROOT}: {missing}", file=sys.stderr)
        return 2

    def _alarm(signum, frame):
        raise _Timeout(f"run exceeded {TIME_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(TIME_LIMIT_S)

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    dirs = _prepare_environment(work)
    try:
        from mahout_samsara_book_spark.tmpdirs import register_tmpdir

        from perfbench import fixtures, harness
        from perfbench.workloads import WORKLOADS

        # removed at exit even when the run is terminated by a signal
        register_tmpdir(work)

        queries = WORKLOADS[args.workload]
        t0 = time.perf_counter()
        rows = fixtures.write_fixtures(dirs["fixtures"], args.seed)
        fixture_s = time.perf_counter() - t0

        from mahout_samsara_book_spark.session import get_spark

        def factory():
            return get_spark(
                app_name="perfbench",
                extra_conf={
                    # the heap is committed and touched up front, so the
                    # JVM's resident size does not depend on when G1
                    # chose to grow the heap during the run
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
                        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
                    ),
                    "spark.sql.warehouse.dir": dirs["warehouse"],
                    "spark.ui.showConsoleProgress": "false",
                },
            )

        result = harness.run(
            factory,
            dirs["fixtures"],
            fixtures.SF,
            queries,
            args.seed,
            args.seconds,
            bool(args.trace),
            SETUPS,
            started + PASS_DEADLINE_S,
        )
        detail = result["detail"]
        problems = result["problems"] + _ledger_check(
            _ledger_key(args.workload, args.seed, fixtures.SF, queries),
            detail["counts"],
        )
        detail.update(
            {
                "workload": args.workload,
                "queries": list(queries),
                "seed": args.seed,
                "trace": args.trace,
                "fixture_rows": rows,
                "fixture_s": fixture_s,
                # what a one-shot run pays before its first query: fixture
                # writing, JVM launch and every set-up
                "start_to_first_pass_s": detail.pop("cold_pass_started") - started,
                "problems": problems,
            }
        )
    except _Timeout as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        t0 = time.perf_counter()
        _stop_spark()
        stop_s = time.perf_counter() - t0
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    detail["stop_s"] = stop_s
    detail["run_s"] = time.monotonic() - started

    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    for name, reason in detail["failures"].items():
        print(f"perfbench: {name} failed: {reason}", file=sys.stderr)
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0 and not problems,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": result["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
