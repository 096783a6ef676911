#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload coreset_mr --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

Run it from the root of the repository. One process drives Spark at
``local[<cores>]`` with the engine's session defaults, but a 2 GB
driver heap (see ``prepare_env``). ``--seed`` makes
the points of ``coreset_mr`` and permutes the mix's key order; the
run's files go under ``.perfbench/`` and are removed at the end. Set-up,
which ends with untimed warm passes, is timed; then ops run in a closed
loop for ``--seconds`` (the mix runs whole passes, at least two), each
checked after its timed region. With ``--trace 1`` a traced loop and an
untraced one follow. The last line of stdout is ``{"correct",
"attempted", "failed", "metrics"}``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a report with every other figure. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ["coreset_mr", "mix_sf0.1"]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CPUS=str(cpus),
        # The engine's default 8 GB heap lets G1 grow the JVM to whatever
        # GC timing asks for: over ten mix seeds on a 4-core VM its peak
        # RSS ran from 1.8 to 3.6 GB, a quartile spread of 0.30, so
        # peak_rss_mb measured the collector rather than the program. At
        # 2 GB five of them spread 0.08; heap pressure then shows as GC
        # CPU in cpu_s_per_op, or as spill, before it shows as RSS.
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LAUNCHER_OPTS=java_opts,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options {shlex.quote(java_opts)} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session():
    from diversity_maximization_spark import registry
    from diversity_maximization_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    return spark


def anchors(spark) -> dict[str, float]:
    """Host-speed readings taken once per run; they only show drift."""
    a = np.random.RandomState(0).rand(1024, 1024)
    _ = a @ a
    t0 = time.perf_counter()
    _ = a @ a
    out = {"anchor.numpy_matmul_s": time.perf_counter() - t0}

    def spark_agg():
        # a new DataFrame each time: a reused one would skip its shuffle stage
        probe = spark.range(50_000_000)
        probe.groupBy((probe.id % 97).alias("g")).count().collect()

    spark_agg()
    t0 = time.perf_counter()
    spark_agg()
    out["anchor.spark_range_agg_s"] = time.perf_counter() - t0
    return out


def tail(samples: list[float]):
    """The highest whole percentile with at least 10 samples above it,
    if it is at least the median; else (None, None)."""
    n = len(samples)
    q = int(100 * (n - 10) / n) if n > 10 else 0
    if q < 50:
        return None, None
    return q, float(np.percentile(samples, q))


class Ctx:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = None


def measure(ctx, wl, seconds: float, tracer, listener=None, passes: int = 1) -> dict:
    """Closed loop: whole passes of ops until ``seconds`` have passed and
    at least ``passes`` passes have run."""
    from diversity_maximization_spark.metrics import KERNEL_DISTANCE_EVALS
    from probes import cpu_seconds, host_cpu, host_shares

    ctx.tracer = tracer
    host0 = host_cpu()
    wl.install(tracer)
    ops: list[dict] = []
    deadline = time.perf_counter() + seconds
    try:
        for done, batch in enumerate(wl.passes(np.random.default_rng(ctx.seed)), 1):
            for op in batch:
                tracer.op_id = len(ops)
                rec = {"op": op, "problems": []}
                evals = KERNEL_DISTANCE_EVALS.n
                rows = None
                with tracer.span(op, "benchmark", count_spark=True) as root:
                    cpu0 = cpu_seconds()
                    t0 = t1 = time.perf_counter()
                    try:
                        with tracer.span("construct", wl.layer(op)):
                            df = wl.construct(ctx, op)
                        t1 = time.perf_counter()
                        with tracer.span("collect", "spark.collect"):
                            rows = df.collect()
                    except Exception as exc:  # a failed op is counted, not fatal
                        rec["problems"].append(f"{type(exc).__name__}: {exc}"[:400])
                    t2 = time.perf_counter()
                    rec["cpu_s"] = cpu_seconds() - cpu0
                rec.update(seconds=t2 - t0, construct_s=t1 - t0, collect_s=t2 - t1)
                rec["distance_evals"] = KERNEL_DISTANCE_EVALS.n - evals
                if root is not None:
                    rec["spark"] = root["spark"]
                if listener is not None:
                    rec["batches"] = listener.take()
                if rows is not None:
                    rec["rows"] = len(rows)
                    try:
                        rec["problems"] += wl.check(ctx, op, rows)
                    except Exception as exc:
                        rec["problems"].append(f"check: {type(exc).__name__}: {exc}"[:400])
                ops.append(rec)
            if done >= passes and time.perf_counter() >= deadline:
                break
    finally:
        tracer.restore()
    secs = [o["seconds"] for o in ops]
    q, t = tail(secs)
    return {
        "ops": ops,
        "attempted": len(ops),
        "failed": sum(1 for o in ops if o["problems"]),
        "op_s_p50": statistics.median(secs),
        "op_s_mean": statistics.mean(secs),
        "tail_pct": q,
        "op_s_tail": t,
        "cpu_s_per_op": statistics.mean(o["cpu_s"] for o in ops),
        "host": host_shares(host0, host_cpu()),
    }


def layer_metrics(ops: list[dict], cpus: int) -> dict:
    """Per-op means of what the traced loop recorded, on every workload."""
    from workloads import mean

    def sp(k):
        return lambda o: o["spark"][k]

    wall = sum(o["seconds"] for o in ops)
    run = sum(o["spark"]["executor_run_s"] for o in ops)
    written = sum(o["spark"]["shuffle_write_bytes"] for o in ops)
    read = sum(o["spark"]["shuffle_read_bytes"] for o in ops)
    return {
        "op.construct_s": mean(ops, lambda o: o["construct_s"]),
        "op.collect_s": mean(ops, lambda o: o["collect_s"]),
        "op.jobs": mean(ops, sp("jobs")),
        "op.stages": mean(ops, sp("stages")),
        "op.tasks": mean(ops, sp("tasks")),
        "op.job_s": mean(ops, sp("job_s")),
        "op.driver_s": mean(ops, lambda o: o["seconds"] - o["spark"]["job_s"]),
        "op.executor_run_s": mean(ops, sp("executor_run_s")),
        "op.executor_cpu_s": mean(ops, sp("executor_cpu_s")),
        "op.core_util": run / (wall * cpus) if wall else 0.0,
        "op.shuffle_write_bytes": mean(ops, sp("shuffle_write_bytes")),
        "op.shuffle_read_bytes": mean(ops, sp("shuffle_read_bytes")),
        "op.shuffle_read_over_write": read / written if written else 0.0,
        "op.spill_bytes": mean(ops, sp("spill_bytes")),
        "op.cpu_s": mean(ops, lambda o: o["cpu_s"]),
        "op.distance_evals": mean(ops, lambda o: o["distance_evals"]),
    }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_util", "_over_write")):
        return "ratio"
    return "count"


def shutdown(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    from probes import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def write_spans(tracer, args) -> str:
    path = os.path.join(
        ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(tracer.spans, f)
    return os.path.relpath(path, ROOT)


def run(args, work: str, cpus: int) -> tuple[dict, dict]:
    from probes import SparkCounters, StreamProgress, Tracer, peak_rss_mb
    from workloads import WORKLOADS, Setup, mean

    load_before = os.getloadavg()
    tracer = Tracer(bool(args.trace))
    setup = Setup(tracer)
    t_setup = time.perf_counter()
    spark = setup.step("session.start", "session", start_session)
    try:
        ctx = Ctx(spark, work, args.seed)
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx, setup)
        warm = setup.step(
            "session.warm", "session", measure, ctx, wl, 0, Tracer(False), None, wl.warm_passes
        )
        setup_s = time.perf_counter() - t_setup

        plain = measure(ctx, wl, args.seconds, Tracer(False), passes=wl.min_passes)
        # before the traced loops and the anchors, which are not the workload
        peak = peak_rss_mb()
        traced = after = None
        if args.trace:
            tracer.counters = SparkCounters(spark)
            listener = StreamProgress()
            spark.streams.addListener(listener)
            try:
                traced = measure(ctx, wl, args.seconds, tracer, listener)
            finally:
                spark.streams.removeListener(listener)
            # an untraced loop as warm as the traced one: the overhead base
            after = measure(ctx, wl, args.seconds, Tracer(False))
        anchor = anchors(spark)
    finally:
        shutdown(spark)
    load_after = os.getloadavg()

    loops = [lp for lp in (warm, plain, traced, after) if lp]
    failed = sum(lp["failed"] for lp in loops)
    ops_per_s = 1.0 / plain["op_s_mean"]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "host_cpu_shares": plain["host"],
        **anchor,
        "setup_s": setup_s,
        "setup_steps_s": setup.seconds,
        "samples": plain["attempted"],
        "op_s_p50": plain["op_s_p50"],
        "op_s_tail": plain["op_s_tail"],
        "op_s_tail_percentile": plain["tail_pct"],
        "ops_per_s": ops_per_s,
        "cpu_s_per_op": plain["cpu_s_per_op"],
        "result_rows_per_op": mean(plain["ops"], lambda o: o.get("rows", 0)),
        "error_rate": plain["failed"] / plain["attempted"],
        "peak_rss_mb": peak["total"],
        "peak_rss_mb_by_process": peak,
        "problems": [f"{o['op']}: {p}" for lp in loops for o in lp["ops"] for p in o["problems"]][:20],
        "op_seconds": {},
        "op_cpu_s": {},
    }
    for o in plain["ops"]:
        report["op_seconds"].setdefault(o["op"], []).append(o["seconds"])
        report["op_cpu_s"].setdefault(o["op"], []).append(o["cpu_s"])
    if args.workload == "coreset_mr":
        report["points_per_s"] = wl.N_POINTS * ops_per_s
    else:
        report["queries_per_s"] = ops_per_s
    report.update(wl.report())

    def m(value, unit):
        return {"value": value, "unit": unit}

    if traced is None:
        metrics = {
            "cpu_s_per_op": m(plain["cpu_s_per_op"], "s"),
            "setup_s": m(setup_s, "s"),
            "peak_rss_mb": m(peak["total"], "MB"),
        }
    else:
        metrics = {
            **{f"{k}_s": m(v, "s") for k, v in setup.seconds.items()},
            **{k: m(v, "s") for k, v in anchor.items()},
            **{k: m(v, _unit(k)) for k, v in layer_metrics(traced["ops"], cpus).items()},
            "trace.op_s_mean": m(traced["op_s_mean"], "s"),
            "trace.overhead_s": m(traced["op_s_mean"] - after["op_s_mean"], "s"),
        }
        report["layers"] = wl.layers(traced["ops"], tracer, cpus)
        report["self_s"] = tracer.self_times()
        report["untraced_warm_op_s_mean"] = after["op_s_mean"]
        report["trace_overhead_share"] = traced["op_s_mean"] / after["op_s_mean"] - 1.0
        report["trace_file"] = write_spans(tracer, args)
    result = {
        "correct": failed == 0,
        "attempted": sum(lp["attempted"] for lp in loops),
        "failed": failed,
        "metrics": metrics,
    }
    return report, result


def run_all(args) -> int:
    """Each workload in its own process, one after the other."""
    metrics, attempted, failed = {}, 0, 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        sys.stdout.write(done.stdout)
        lines = done.stdout.strip().splitlines()
        if done.returncode != 0 or not lines:
            sys.stderr.write(done.stderr[-4000:])
            return done.returncode or 1
        last = json.loads(lines[-1])
        attempted += last["attempted"]
        failed += last["failed"]
        metrics.update({f"{name}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    try:
        import diversity_maximization_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    prepare_env(work, cpus)
    try:
        report, result = run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
