#!/usr/bin/env python3
"""Repository benchmark: one command, one Spark session, one workload.

    python3 perfbench/run.py --workload suite_build --seed 1 --seconds 6 --trace 0

Run from the repository root.  With --trace 0 the last stdout line is a JSON
object with the end-to-end metrics of the workload; with --trace 1 it holds
every per-layer metric of the traced layer sweep, and the spans are written
to perfbench/_work/traces/.  Every run, traced or not, is appended to
perfbench/_work/runs.jsonl together with the box it ran on.  See README.md
in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path[:0] = [HERE, ROOT]

END_TO_END = ("op_p50_s", "throughput_per_s", "setup_s", "driver_peak_rss_mb")


def log(*args) -> None:
    print("[perfbench]", *args, file=sys.stderr, flush=True)


def box() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "loadavg": os.getloadavg(),
    }


def configure_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout and size the
    session to the box (get_spark would ask for 16g of driver memory)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CACHE"] = os.path.join(WORK, "cache")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp


class Context:
    def __init__(self, args, run_dir: str):
        self.workload = args.workload
        self.seed = args.seed
        self.work_dir = run_dir
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
        self.gen_s = 0.0
        self.record: dict = {}
        self.spark = None
        self.slice_paths: dict = {}

    def start(self, trace: bool) -> None:
        from spans import JobGroups, Tracer

        from bloomfilter_spark.plans.session import get_spark

        ncpu = len(os.sched_getaffinity(0))
        tmp = os.environ["TMPDIR"]
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{ncpu}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        self.tracer = Tracer(trace, self.run_id)
        self.groups = JobGroups(self.spark.sparkContext, self.run_id)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM, which the Python workers belong
        to, to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def warm_workers(self) -> None:
        """Spawn every Python worker and import the library in it once, so
        no timed call pays worker start-up."""
        par = self.spark.sparkContext.defaultParallelism

        def warm(batches):
            import bloomfilter_spark.operators.membership  # noqa: F401
            import bloomfilter_spark.operators.pipeline  # noqa: F401

            yield from batches

        self.spark.range(0, par * 2, numPartitions=par * 2).mapInArrow(
            warm, schema="id long"
        ).count()

    def canary_s(self) -> float:
        """Fixed shuffle+aggregate micro-job, median of three: the box's
        scheduling speed, recorded next to every run."""
        par = self.spark.sparkContext.defaultParallelism
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(0, 1_000_000, numPartitions=par).selectExpr(
                "id % 32 AS g"
            ).groupBy("g").count().collect()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)


def timed_window(wl, seconds: float) -> tuple[list[float], int, int, int]:
    """Repeat the workload's timed call until `seconds` have passed and at
    least `wl.min_calls` calls were made.  Returns (durations, items, attempted,
    failed)."""
    durations: list[float] = []
    items = attempted = failed = 0
    t_end = time.perf_counter() + seconds
    while len(durations) < wl.min_calls or time.perf_counter() < t_end:
        try:
            calls = wl.timed()
        except Exception:
            attempted += 1
            failed += 1
            log(f"{wl.name}: timed call failed\n{traceback.format_exc()}")
            if failed >= wl.min_calls:
                break
            continue
        attempted += len(calls)
        durations += [dt for dt, _ in calls]
        items += sum(n for _, n in calls)
    return durations, items, attempted, failed


def run_checks(wl) -> tuple[int, int]:
    attempted = failed = 0
    try:
        results = wl.checks()
    except Exception:
        log(f"{wl.name}: correctness gates raised\n{traceback.format_exc()}")
        return 1, 1
    for name, ok, detail in results:
        attempted += 1
        failed += not ok
        log(f"gate {'OK  ' if ok else 'FAIL'} {name}: {detail}")
    return attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    # only the result line may reach stdout: point fd 1 (which the JVM and
    # the Python workers inherit) at stderr and keep the real one aside
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    import bloomfilter_spark  # noqa: F401  (fails here outside a checkout)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(run_dir)
    from workloads import SWEEP, WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    ctx = Context(args, run_dir)
    try:
        return measure(ctx, args, WORKLOADS[args.workload], SWEEP, real_stdout)
    finally:
        ctx.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def ensure_inputs(ctx, need_slice: bool) -> float:
    from inputs import ensure_catalog_pages, ensure_slice

    gen_s = ensure_catalog_pages(ctx.spark)
    if need_slice:
        ctx.slice_paths, slice_s = ensure_slice(
            ctx.spark, ctx.seed, os.environ["SPARK_GRAFT_CACHE"]
        )
        gen_s += slice_s
    return gen_s


def measure(ctx, args, workload_cls, SWEEP, real_stdout) -> int:
    trace = bool(args.trace)
    t_session = time.perf_counter()
    ctx.start(trace)
    ctx.warm_workers()
    session_s = time.perf_counter() - t_session
    # input generation: cached per seed, timed apart from set-up
    ctx.gen_s = ensure_inputs(ctx, need_slice=trace or args.workload != "catalog_graded")
    wl = workload_cls(ctx)
    t_prep = time.perf_counter()
    wl.prepare()
    prep_s = time.perf_counter() - t_prep
    setup_s = session_s + prep_s
    log(f"session {session_s:.2f}s prepare {prep_s:.2f}s input generation {ctx.gen_s:.2f}s")

    attempted = failed = 0
    metrics: dict[str, float] = {}
    if not trace:
        durations, items, attempted, failed = timed_window(wl, args.seconds)
        # read before the gates and the canary, which are not program work
        peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        if not durations:
            log("no timed call succeeded")
            return 1
        metrics = {
            "op_p50_s": statistics.median(durations),
            "throughput_per_s": items / sum(durations),
            "setup_s": setup_s,
            "driver_peak_rss_mb": peak_rss_mb,
        }
        ctx.record["durations"] = durations
        a, f = run_checks(wl)
        attempted += a
        failed += f
    else:
        # every traced run sweeps every layer and checks every gate: the
        # prepared workload first, then the others on the same seed's inputs,
        # each after its own warm calls
        sweep = [wl] + [cls(ctx) for name, cls in SWEEP.items() if name != wl.name]
        for w in sweep:
            attempted += 1
            try:
                if w is not wl and w.sweep_warm:
                    w.prepare()
                metrics.update(w.layers())
            except Exception:
                failed += 1
                log(f"{w.name}: layer sweep failed\n{traceback.format_exc()}")
                continue
            a, f = run_checks(w)
            attempted += a
            failed += f
        n_spans = len(ctx.tracer.spans)
        metrics["trace.spans"] = n_spans
        metrics["trace.overhead_s"] = n_spans * ctx.tracer.span_cost_s()
        ctx.tracer.write(os.path.join(WORK, "traces", f"{ctx.run_id}.json"))
    ctx.record["canary_s"] = ctx.canary_s() if not trace else metrics.get("catalog.canary_s")

    units = unit_table()
    names = END_TO_END if not trace else per_layer_names()
    missing = [n for n in names if n not in metrics]
    if missing:
        log(f"missing metrics: {missing}")
        failed += len(missing)
        attempted += len(missing)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            n: {"value": float(metrics[n]), "unit": units[n]} for n in names if n in metrics
        },
    }
    ctx.record.update(
        run_id=ctx.run_id, box=box(), workload=args.workload, seed=args.seed,
        trace=args.trace, seconds=args.seconds, session_s=session_s, prep_s=prep_s,
        gen_s=ctx.gen_s, result=out,
    )
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(ctx.record) + "\n")
    real_stdout.write(json.dumps(out) + "\n")
    real_stdout.flush()
    return 0


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def unit_table() -> dict[str, str]:
    b = _benchmark_json()
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def per_layer_names() -> list[str]:
    return [m["name"] for m in _benchmark_json()["per_layer"]]


if __name__ == "__main__":
    sys.exit(main())
