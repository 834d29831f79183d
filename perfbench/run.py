"""Benchmark driver: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload filter_html --seed 0 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The process is fresh when it starts: ``setup_s`` is timed from the first
package import through ``session.get_spark`` (which calls
``deploy.ensure_pyfiles``) to a warm Python worker pool, at
``local[<cores>]``. The seeded input is then made, or found in the cache and
verified (``inputs.py``). Repetitions then run one after another for
``--seconds``: the cold first one (``cold_wall_s``), the workload's
``warmup`` unmeasured ones, and at least its ``min_warm`` measured warm ones
(``wall_s`` is their median). The correctness gate runs after the timed
window on the cold and the last repetition.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
untraced repetitions, then traced ones and the per-layer measurements, and
prints the per-layer metrics. The last stdout line is one JSON object; the
line before it is a fuller report. Exit code 1 means a correctness check
failed or a repetition raised.
"""

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SMOKE_SIZE = 200
END_TO_END = ("setup_s", "cold_wall_s", "wall_s", "docs_per_s", "peak_rss_mb")
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    for d in ("tmp", "local", "jtmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit's launcher JVM: no hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def setup(tracer) -> tuple[object, dict]:
    """Fresh process -> package imported -> get_spark (+ ensure_pyfiles) ->
    warm Python worker pool. Returns the session and the phase times."""
    from spans import span

    t0 = time.perf_counter()
    with span(tracer, "setup"):
        with span(tracer, "import"):
            import fingerprint_spark.pipeline  # noqa: F401
            from fingerprint_spark import deploy, session
        timed = {}
        ensure = deploy.ensure_pyfiles

        def ensure_timed(spark):
            t = time.perf_counter()
            with span(tracer, "deploy.ensure_pyfiles"):
                ensure(spark)
            timed["deploy.ensure_pyfiles_s"] = time.perf_counter() - t

        deploy.ensure_pyfiles = ensure_timed
        t1 = time.perf_counter()
        with span(tracer, "session.get_spark"):
            spark = session.get_spark(
                "perfbench", cores=cores(),
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # no hsperfdata file in /tmp; JVM temp files in the checkout
                    "spark.driver.extraJavaOptions":
                        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'jtmp')}",
                    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                },
            )
        deploy.ensure_pyfiles = ensure
        t2 = time.perf_counter()
        with span(tracer, "session.worker_warm"):
            _warm_workers(spark)
        t3 = time.perf_counter()
    timed.update({
        "setup_s": t3 - t0,
        "session.get_spark_s": t2 - t1,
        "session.worker_warm_s": t3 - t2,
    })
    return spark, timed


def _warm_workers(spark) -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def touch(ids: pd.Series) -> pd.Series:
        import fingerprint_spark.parse  # noqa: F401  (worker-side import)
        return ids

    n = cores()
    spark.range(0, 64 * n, 1, n).select(touch("id")).write.mode(
        "overwrite"
    ).format("noop").save()


def stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def settle(spark) -> None:
    """Collect garbage in the driver Python and the JVM before a repetition,
    outside its timed window, so Spark's ContextCleaner releases what the
    previous repetition left (shuffles, checkpointed RDDs, broadcasts)
    rather than doing it during the next one."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_reps(workload, ctx, seconds: float) -> tuple[list, bool]:
    """Closed loop: the next repetition starts when the previous returns.
    Returns the finished repetitions and whether one raised."""
    reps = []
    start = time.perf_counter()
    while (len(reps) < 1 + workload.warmup + workload.min_warm
           or time.perf_counter() - start < seconds):
        settle(ctx.spark)
        try:
            reps.append(workload.rep(ctx, len(reps)))
        except Exception:  # counted as a failed repetition; the run fails
            traceback.print_exc()
            return reps, True
    return reps, False


def measure(workload, ctx, seconds: float, pinned: dict) -> dict:
    """Timed repetitions, then the gate on the cold and the last one."""
    reps, raised = run_reps(workload, ctx, seconds)
    errs, quality = [], {}
    if reps:
        kept = [reps[0], reps[-1]] if len(reps) > 1 else reps
        errs, quality = workload.check(ctx, kept, pinned)
    for e in errs:
        print(f"correctness: {e}", file=sys.stderr)
    warm = [r["wall"] for r in reps[1 + workload.warmup:]]
    return {
        "reps": reps, "errors": errs, "quality": quality,
        "attempted": len(reps) + raised,
        "failed": raised + (2 if len(reps) > 1 else 1) * bool(errs),
        "cold_wall_s": reps[0]["wall"] if reps else None,
        "wall_s": statistics.median(warm) if warm else None,
        "warm_walls": warm,
    }


def end_to_end(ctx, res: dict, timed: dict, rss: dict) -> dict:
    docs = ctx.inp["docs"]
    out = {
        "setup_s": (timed["setup_s"], "s"),
        "cold_wall_s": (res["cold_wall_s"], "s"),
        "wall_s": (res["wall_s"], "s"),
        "docs_per_s": (docs / res["wall_s"], "docs/s"),
        "peak_rss_mb": (rss["peak_rss_mb"], "MB"),
    }
    q = res["quality"]
    if "keep_f1" in q:
        out["keep_f1"] = (q["keep_f1"], "ratio")
    out["failed_frac"] = (res["failed"] / max(res["attempted"], 1), "ratio")
    return out


def run_workload(spark, timed: dict, tracer, name: str, seed: int, seconds: float,
                 size: int | None = None) -> tuple[bool, dict, dict]:
    """Measure one workload on a set-up session; traced when ``tracer`` is
    given. Returns (correct, metrics {name: (value, unit)}, report)."""
    import inputs
    from sparkstats import peak_rss
    from workloads import WORKLOADS, Ctx

    workload = WORKLOADS[name]
    # made after set-up, so set-up starts in a fresh process, and before
    # the timed window
    inp = inputs.ensure(os.path.join(WORK, "inputs"), seed, size or workload.size)
    pinned = inputs.load_pinned()["checks"].get(name, {}).get(f"{seed}:{inp['size']}", {})
    work = os.path.join(WORK, f"run-{name}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Ctx(spark=spark, inp=inp, work=work)
    res = measure(workload, ctx, seconds, pinned)
    correct = not res["errors"] and res["failed"] == 0
    layers = {}
    if tracer is not None and correct:
        import layers as layer_mod
        layers, trace_errs = layer_mod.traced(workload, ctx, tracer, res, timed, pinned)
        res["errors"].extend(trace_errs)
        res["attempted"] += 1
        res["failed"] += bool(trace_errs)
        correct = not trace_errs
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{name}-seed{seed}.json"))
    rss = peak_rss(spark.sparkContext._gateway.proc.pid)
    shutil.rmtree(work, ignore_errors=True)

    metrics = end_to_end(ctx, res, timed, rss) if correct else {}
    if tracer is not None and correct:
        layers.update({k: (v, "MB") for k, v in rss.items() if k != "peak_rss_mb"})
        metrics = layers
    report = {
        "workload": name, "seed": seed, "cores": cores(),
        "input": {k: v for k, v in inp.items() if k != "path"},
        "setup_s": timed["setup_s"], "cold_wall_s": res["cold_wall_s"],
        "reps": len(res["reps"]), "warm_walls_s": res["warm_walls"],
        "errors": res["errors"], "quality": res["quality"], "rss_mb": rss,
        "attempted": res["attempted"], "failed": res["failed"],
    }
    return correct, metrics, report


def run_one(name: str, seed: int, seconds: float, trace: bool) -> tuple[bool, dict, dict]:
    from spans import Tracer

    tracer = Tracer() if trace else None
    spark, timed = setup(tracer)
    try:
        return run_workload(spark, timed, tracer, name, seed, seconds)
    finally:
        stop(spark)


def smoke() -> None:
    """Every BENCHMARK.json workload at a tiny size, untraced then traced, on
    one session; asserts every metric is reported with its unit."""
    from spans import Tracer

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    missing = []
    spark, timed = setup(None)
    try:
        for w in spec["workloads"]:
            for tracer, key in ((None, "end_to_end"), (Tracer(), "per_layer")):
                ok, metrics, _ = run_workload(
                    spark, timed, tracer, w["name"], 0, 0, size=SMOKE_SIZE
                )
                if not ok:
                    raise SystemExit(f"smoke: {w['name']} {key} run failed its checks")
                for m in spec[key]:
                    got = metrics.get(m["name"])
                    if got is None or got[1] != m["unit"]:
                        missing.append((w["name"], m["name"], m["unit"], got))
    finally:
        stop(spark)
    if missing:
        raise SystemExit(f"smoke: missing or mis-united metrics {missing}")
    print("smoke: ok")


def main() -> int:
    # SIGTERM unwinds through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    _isolate_env()
    # the JVM and Python workers inherit stdout: point it at stderr so the
    # result stays the last stdout line
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        if args.smoke:
            smoke()
            return 0
        from workloads import WORKLOADS
        if args.workload not in WORKLOADS:
            ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
        correct, metrics, report = run_one(
            args.workload, args.seed, args.seconds, bool(args.trace)
        )
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
    print(json.dumps({"report": report, "all_metrics": {
        k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
    }}, default=str))
    if not args.trace:
        # keep_f1, out_bytes_per_in_byte and failed_frac are in the report
        # line; the result line carries the BENCHMARK.json end_to_end set
        metrics = {k: metrics[k] for k in END_TO_END if k in metrics}
    print(json.dumps({
        "correct": correct,
        "attempted": max(report["attempted"], 1),
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
