#!/usr/bin/env python3
"""pysearch benchmark: one seeded workload, timed, every answer checked.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads: ``serve`` (read traffic over a committed segment) and
``update_mix`` (updates and deletes beside reads, then compaction); see
perfbench/NOTES.md. With ``--trace 0`` the last stdout line carries the
end-to-end metrics, with ``--trace 1`` the per-layer metrics from timing
shims around pysearch's public entry points. Lines before it give the
corpus shape and the workload's own named figures.

The run keeps every file it writes inside the repository root: generated
corpora are cached in ``.perfbench_cache/`` and each run gets a private
scratch dir under ``.perfbench_tmp/`` (TMPDIR, Spark local dirs and the
JVM temp dir), removed when the run ends. Exit status is 0 only when
every op's answer matched its oracle.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
SCRATCH = os.path.join(ROOT, ".perfbench_tmp")
DRIVER_MEM = "4g"


def _hygiene(run_dir: str) -> None:
    """Identical process environment on both sides of any comparison."""
    spark_local = os.path.join(run_dir, "spark")
    os.makedirs(spark_local)
    env = {
        # Spark's Python workers import pysearch from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "PYSEARCH_DRIVER_MEM": DRIVER_MEM,
        "PYSEARCH_SHM_SHUFFLE": "0",       # no shuffle files outside the run dir
        "SPARK_LOCAL_DIRS": spark_local,
        "TMPDIR": run_dir,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={run_dir} pyspark-shell"),
    }
    os.environ.update(env)
    tempfile.tempdir = run_dir


def _rss() -> dict:
    """Peak resident set (VmHWM) of this driver and of its JVM, in MB."""
    def hwm(pid) -> float:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = hwm(gw.proc.pid) if gw is not None and getattr(gw, "proc", None) else 0.0
    return {"driver_mb": hwm("self"), "jvm_mb": jvm}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _stop_spark(ctx) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if ctx.spark is not None:
        ctx.spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _fixed_hash_seed() -> None:
    """Re-exec under PYTHONHASHSEED=0: a random per-process string hash
    seed changes dict and set layouts, which moved the driver-side query
    latencies of one seed by up to 30 % between runs."""
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pysearch")):
        print(f"pysearch package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import spans, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(CACHE, exist_ok=True)
    os.makedirs(SCRATCH, exist_ok=True)
    # one benchmark run at a time per checkout: two runs side by side
    # contaminate each other's timings
    lock = open(os.path.join(CACHE, "run.lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("another benchmark run holds the lock", file=sys.stderr)
        return 3
    run_dir = tempfile.mkdtemp(prefix="run_", dir=SCRATCH)
    steal0, total0 = _cpu_ticks()
    ctx = None
    try:
        _hygiene(run_dir)
        tracer = spans.Tracer(enabled=bool(args.trace))
        tracer.install()
        ctx = workloads.Ctx(t0=T0, seed=args.seed, seconds=args.seconds,
                            cache_dir=CACHE, tracer=tracer)
        workloads.WORKLOADS[args.workload](ctx)
        rss = _rss()
        if args.trace:
            values = workloads.layer_metrics(ctx, rss)
            units = workloads.PER_LAYER
        else:
            values = {"setup_s": ctx.setup_s, **ctx.info["e2e"]}
            units = workloads.END_TO_END
        tracer.uninstall()
    finally:
        if ctx is not None and ctx.spark is not None:
            _stop_spark(ctx)
        shutil.rmtree(run_dir, ignore_errors=True)
        lock.close()

    steal1, total1 = _cpu_ticks()
    for n, o in enumerate(ctx.ops):
        print(f"op {n:4d} {o.kind:14s} {1e3 * o.seconds:10.2f} ms"
              f"{' warm' if o.warm else ''}", file=sys.stderr)
    failed = [o for o in ctx.ops if o.error is not None]
    for o in failed[:10]:
        print(f"FAILED {o.kind} {o.spec!r}: {o.error.strip().splitlines()[-1]}",
              file=sys.stderr)
    attempted = len(ctx.ops)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "corpus": ctx.info["corpus"], "setup_s": ctx.setup_s,
                      "peak_rss_mb": rss["driver_mb"] + rss["jvm_mb"],
                      **ctx.info["detail"],
                      "failed_ratio": len(failed) / attempted,
                      # share of CPU time the hypervisor gave to others:
                      # high values flag a run taken on a noisy host
                      "cpu_steal_pct": 100 * (steal1 - steal0) / max(total1 - total0, 1),
                      "absent_shims": tracer.absent}))
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if not failed else 1


if __name__ == "__main__":
    _fixed_hash_seed()
    sys.exit(main())
