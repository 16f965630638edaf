"""Repo benchmark: times one workload at local[4] and checks its output.

    python3 perfbench/run.py --workload score|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. All files go under ``.perfbench_work/``.
With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics (see README.md). The
line before it is the full record: per-iteration context, input stats,
quartiles and checksums.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "4g"


def _env() -> None:
    """Point Spark, the JVM and python workers at the checkout and the
    work dir before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS="4",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-memory {DRIVER_MEMORY} "
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
        ),
    )
    sys.path[:0] = [ROOT, HERE]


def _stop_jvm() -> None:
    """Stop Spark, then the JVM and its workers, and wait for them."""
    from pyspark import SparkContext

    import measure

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    # python workers exit once the JVM is gone; give them a moment, then
    # kill any leftover and wait until it has disappeared
    deadline = time.time() + 30
    while len(measure.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in measure.tree_pids()[1:]:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, 9)
    while len(measure.tree_pids()) > 1 and time.time() < deadline + 30:
        time.sleep(0.2)


def setup(wl) -> tuple[object, dict]:
    """Session start, input build and warm-up."""
    from workloads import session

    t0 = time.perf_counter()
    spark = session()
    session_s = time.perf_counter() - t0
    t = time.perf_counter()
    stats = wl.build()
    build_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warm(spark)
    warm_s = time.perf_counter() - t
    return spark, {
        "setup_s": session_s + build_s + warm_s,
        "session_s": session_s,
        "build_s": build_s,
        "warm_s": warm_s,
        "input": stats,
    }


def measure_loop(wl, spark, seconds: float) -> dict:
    """Repeat the workload until ``seconds`` have been measured and at
    least ``wl.PASSES`` passes have run; per-iteration context rides
    along."""
    import measure

    iters, failed = [], 0
    t_end = time.perf_counter() + seconds
    with measure.PeakRss() as rss:
        while len(iters) < wl.PASSES or time.perf_counter() < t_end:
            try:
                rec = measure.timed(lambda: wl.run(spark, len(iters)))
            except Exception:  # a failed run counts against error_rate
                traceback.print_exc()
                failed += 1
                rec = {"failed": True}
            iters.append(rec)
    return {"iterations": iters, "failed": failed, "peak_rss_mb": rss.peak_mb}


def untraced(wl, seconds: float) -> tuple[dict, dict, int, int]:
    import measure
    from workloads import session

    spark, rec = setup(wl)
    loop = measure_loop(wl, spark, seconds)
    ok = [it for it in loop["iterations"] if not it.get("failed")]
    t = time.perf_counter()
    spark = session()  # ingest's job.main() stops the session it ran in
    problems = wl.check(spark)
    check_s = time.perf_counter() - t
    attempted = len(loop["iterations"])
    failed = attempted if problems else loop["failed"]
    dps = measure.summary([wl.docs / it["wall_s"] for it in ok])
    cpk = measure.summary([it["cpu_s"] / (wl.docs / 1000) for it in ok])
    rec.update(
        docs=wl.docs,
        docs_per_s=dps,
        cpu_s_per_kdoc=cpk,
        peak_rss_mb=loop["peak_rss_mb"],
        error_rate=failed / attempted,
        iterations=loop["iterations"],
        problems=problems,
        check_s=check_s,
        output_checksum=getattr(wl, "output_checksum", None),
    )
    metrics = {
        "docs_per_s": {"value": dps["median"], "unit": "1/s"},
        "cpu_s_per_kdoc": {"value": cpk["median"], "unit": "s"},
        "setup_s": {"value": rec["setup_s"], "unit": "s"},
    }
    return rec, metrics, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["score", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ("metadata_quality_stack_spark/__init__.py", "job.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a repo checkout",
                  file=sys.stderr)
            return 2

    shutil.rmtree(WORK, ignore_errors=True)
    _env()
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](WORK, args.seed)
    try:
        if args.trace:
            import ledger

            rec, metrics, attempted, failed = ledger.traced(wl)
        else:
            rec, metrics, attempted, failed = untraced(wl, args.seconds)
    finally:
        t = time.perf_counter()
        _stop_jvm()
        stop_s = time.perf_counter() - t
    rec.update(workload=wl.name, seed=args.seed, seconds=args.seconds, trace=args.trace, stop_s=stop_s)
    print(json.dumps({"record": rec}))
    shutil.rmtree(WORK, ignore_errors=True)
    for it in rec.get("problems", []):
        print("check failed:", it, file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
