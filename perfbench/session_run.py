"""One measured run: a fresh Spark session, one workload, one closed loop.

Started by ``run.py`` in its own process session; writes its result as JSON
to ``--result``.  Untraced, the loop times whole iterations.  Traced, it
alternates untraced and traced iterations (the difference of their medians
is the tracing overhead), records spans and Spark's job accounting for the
traced ones, and then runs the per-layer probes.  Either way the session is
stopped, and the JVM and every Python worker have exited, before the result
is written.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # "fresh process" for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
from procs import LeftoverProcessError, RssSampler, wait_session_exit  # noqa: E402

EXIT_GRACE_S = 20.0


def start_session(work: str):
    from anomaly_detector_spark.session import get_spark

    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the program's 8 GB default heap is far more than these inputs need on
    # a machine shared with others; shuffle partitions stay the program's
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    spark = get_spark(app_name="perfbench", master=f"local[{ncpu}]", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, ncpu


def warm_workers(spark, ncpu: int) -> None:
    """Warm the session as a long-lived job would find it: one JVM codegen
    pass, and one Python worker per core with pandas and pyarrow loaded."""
    from pyspark.sql import functions as F

    from workloads import noop

    noop(spark.range(1_000_000).select(F.sum("id")))
    identity = F.pandas_udf(lambda s: s, "long")
    noop(spark.range(ncpu * 1000).repartition(ncpu).select(identity("id")))


def stop_session(spark) -> None:
    """Stop Spark, end the JVM through its stdin pipe, and wait until the
    JVM and every ``pyspark.daemon`` worker have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            proc.wait(timeout=EXIT_GRACE_S)
        wait_session_exit(os.getsid(0), EXIT_GRACE_S, spare=os.getpid())


def spark_metrics(per_iter: list[dict], plan: dict, ncpu: int) -> tuple[dict, dict]:
    units = {"jobs": "count", "stages": "count", "tasks": "count", "task_run_s": "s",
             "task_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
             "shuffle_read_mb": "MB", "spill_mb": "MB", "input_mb": "MB"}
    out = {f"spark.{k}": (statistics.median(d[k] for d in per_iter), u)
           for k, u in units.items()}
    util = [d["task_run_s"] / (d["wall_s"] * ncpu) for d in per_iter]
    out["spark.core_utilization"] = (statistics.median(util), "ratio")
    out["spark.exchanges"] = (plan["exchanges"], "count")
    out["spark.scans"] = (plan["scans"], "count")
    return out, {k: len(per_iter) for k in out}


def measure(args, spark, ncpu: int, tracer: layers.Tracer, rss: RssSampler, wl,
            setup_s: float) -> dict:
    from workloads import Ctx

    attempted, failed = 0, 0
    walls: list[float] = []            # steady, untraced
    traced_walls: list[float] = []
    spark_iters: list[dict] = []
    plan = None
    notes: list[str] = []

    it, steady_s = 0, 0.0
    while True:
        # traced runs alternate untraced and traced steady iterations
        traced = args.trace == 1 and it % 2 == 0
        tracer.enabled, tracer.iteration = traced, it
        ctx = Ctx(spark, tracer, it)
        rss.measuring = True
        t0 = time.perf_counter()
        try:
            with tracer.span("iteration"):
                wl.iterate(ctx)
        except Exception as e:  # a failed iteration is a failed operation
            traceback.print_exc()
            ctx.result.errors["iteration"] = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        rss.measuring = False
        tracer.enabled = False
        res = ctx.result
        if it == 0:
            first_wall = wall
        else:
            steady_s += wall
            (traced_walls if traced else walls).append(wall)
        last = (steady_s >= args.seconds and len(walls) >= 1
                and (len(traced_walls) >= 1 or not args.trace))
        problems = dict(res.errors)
        if res.outputs is not None:
            try:
                problems.update(wl.check(res))
            except Exception as e:  # a check that cannot run fails
                traceback.print_exc()
                problems["check"] = f"{type(e).__name__}: {e}"
        attempted += max(res.ops, 1)
        failed += min(len(problems), max(res.ops, 1))
        for op, msg in problems.items():
            notes.append(f"FAILED iteration {it} {op}: {msg}")
            print(f"perfbench: iteration {it} {op}: {msg}", file=sys.stderr)
        if traced and it > 0 and res.groups:  # Spark accounting of steady iterations
            stats = layers.job_group_stats(spark, res.groups)
            stats["wall_s"] = wall
            spark_iters.append(stats)
            if plan is None:
                counts = [layers.plan_counts(df) for df in res.plans]
                plan = {k: sum(c[k] for c in counts) for k in ("exchanges", "scans")}
        wl.release(res)
        if last:
            break
        it += 1

    wall_s = statistics.median(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_wall_s": (first_wall, "s"),
        "wall_s": (wall_s, "s"),
        "items_per_s": (wl.items / wall_s, "1/s"),
        "peak_rss_mb": (rss.peak_mb["total"], "MB"),
    }
    samples = {"setup_s": 1, "first_wall_s": 1, "wall_s": len(walls),
               "items_per_s": len(walls)}
    notes.append(f"items_per_s counts {wl.item}: {wl.item}_per_s = {wl.items / wall_s:.6g} "
                 f"({wl.items} {wl.item} per iteration)")
    notes.append("steady walls: " + " ".join(f"{w:.3f}" for w in walls))
    notes.append(f"peak RSS in the iterations: JVM {rss.peak_mb['jvm']:.0f} MB, Python "
                 f"{rss.peak_mb['python']:.0f} MB; over the whole run {rss.run_peak_mb:.0f} MB")
    tail = [p for p in (99, 95, 90, 75, 50) if len(walls) * (1 - p / 100) >= 10]
    if tail:
        q = statistics.quantiles(walls, n=100, method="inclusive")[tail[0] - 1]
        notes.append(f"wall_s p{tail[0]} = {q:.6g} s (n={len(walls)})")
    else:
        notes.append(f"wall_s max = {max(walls):.6g} s; no percentile has 10 samples "
                     f"beyond it at n={len(walls)}")
    if args.trace:
        wl.probes()
        for name, (v, u) in wl.layer.items():
            metrics[name] = (v, u)
            samples[name] = wl.layer_n.get(name, 1)
        series_in = wl.layer["drift.series_in"][0]
        metrics["drift.series_scored"] = (wl.n_scored, "count")
        metrics["drift.scored_ratio"] = (wl.n_scored / series_in if series_in else 0.0, "ratio")
        if spark_iters:
            m, n = spark_metrics(spark_iters, plan, ncpu)
            metrics.update(m)
            samples.update(n)
        metrics["trace.overhead_s"] = (statistics.median(traced_walls) - wall_s, "s")
        samples["trace.overhead_s"] = len(traced_walls)
        for name, xs in tracer.steady_durations().items():
            metrics[f"{name}_s"] = (statistics.median(xs), "s")
            samples[f"{name}_s"] = len(xs)
        for name, xs in sorted(tracer.self_times().items()):
            notes.append(f"span {name}: n={len(xs)} median self time {statistics.median(xs):.4f} s")
    return {"metrics": metrics, "samples": samples, "attempted": attempted,
            "failed": failed, "notes": notes}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--plant-wrong-count", action="store_true")
    args = ap.parse_args()

    tracer = layers.Tracer(enabled=bool(args.trace))
    rss = RssSampler(os.getsid(0))
    rss.start()
    spark = None
    try:
        with tracer.span("session.start"):
            spark, ncpu = start_session(args.work)
        with tracer.span("session.worker_warmup"):
            warm_workers(spark, ncpu)
        t_ready = time.perf_counter()
        import workloads

        wl = workloads.make(spark, args.workload, args.seed, args.tiny, args.plant_wrong_count)
        d = os.path.join(args.work, "inputs")
        with tracer.span("sources.input_write"):
            t0 = time.perf_counter()
            wl.build_inputs(d)
        build_s = time.perf_counter() - t0
        input_mb = sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d)
                       for f in fs) / 2**20
        wl.open_inputs(d)
        res = measure(args, spark, ncpu, tracer, rss, wl, t_ready - T_PROCESS + build_s)
        if args.trace:
            scan_s = workloads.timed(
                lambda: [workloads.noop(t) for t in wl.input_tables().values()])
            start, warm = (tracer.durations(n)[0] for n in ("session.start", "session.worker_warmup"))
            res["metrics"].update({
                "session.start_s": (start, "s"), "session.worker_warmup_s": (warm, "s"),
                "sources.input_write_s": (build_s, "s"),
                "sources.input_mb": (input_mb, "MB"),
                "sources.scan_s": (statistics.median(scan_s), "s")})
            res["samples"]["sources.scan_s"] = len(scan_s)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        if spark is not None:
            try:
                stop_session(spark)
            except LeftoverProcessError:
                traceback.print_exc()
                return 1

    res["correct"] = res["failed"] == 0
    res["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()}
    if args.trace:
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        tracer.dump(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"),
                    {"metrics": res["metrics"], "samples": res["samples"]})
    with open(args.result, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
