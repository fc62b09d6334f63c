"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload replicate|query --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout: the engine package is imported from the
current directory, and everything the run writes goes to a fresh data
root under ``.perfbench_run/`` there, deleted at exit. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` every
end-to-end metric of BENCHMARK.json, with ``--trace 1`` every per-layer
metric. The lines before it give each metric by name with its unit and
sample count, and the correctness verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def _engine_importable(root: str) -> bool:
    """The engine must come from this checkout, not from anywhere else."""
    sys.path.insert(0, root)
    try:
        import couch_to_postgres_spark
    except ImportError:
        return False
    pkg = os.path.realpath(os.path.dirname(couch_to_postgres_spark.__file__))
    return pkg.startswith(os.path.realpath(root) + os.sep)


def _start_spark(work: str):
    """One local Spark process at ``local[<cores>]``, with its scratch
    space inside the run's data root."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # no JVM performance-data file under /tmp, from the launcher or Spark
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from couch_to_postgres_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=os.cpu_count() or 1,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # keep every job and stage for the traced run's attribution
            # (the status store is in memory; both modes set the same)
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("replicate", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    ap.add_argument("--break-model", action="store_true",
                    help="corrupt the expected results (proves the checks can fail)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not _engine_importable(root):
        print("perfbench: the engine package couch_to_postgres_spark is not in "
              f"{root}; run from the root of a checkout", file=sys.stderr)
        return 2

    import metrics as M
    import workloads as W

    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work)
        spark_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        ctx = W.Ctx(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                    size=args.size, spark_s=spark_s, tracer=tracer,
                    break_model=args.break_model)
        res = getattr(W, args.workload)(ctx)
        if tracer:
            tracer.uninstall()
            tracer.harvest()
            layer = M.layer_metrics(args.workload, tracer, ctx.progress)
            res.check(not layer.missing, f"traced layers with no calls: {layer.missing}")
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            e2e = res.metrics
            res.metrics = layer.values
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    metrics = {}
    for n in names:
        value, unit = res.metrics.get(n, (0, units[n]))
        metrics[n] = {"value": value, "unit": unit}
    for note in res.notes:
        print(f"# {note}")
    if args.trace:
        for n, (v, u) in sorted(e2e.items()):
            print(f"# traced end-to-end {n} = {v:.6g} {u}")
    for n in names:
        count = res.samples.get(n)
        tail = f" (n={count})" if count else ""
        print(f"{n} = {metrics[n]['value']:.6g} {metrics[n]['unit']}{tail}")
    frac = res.failed / max(1, res.attempted)
    print(f"failed_frac = {frac:.6g} ratio ({res.failed} of {res.attempted})")
    print(f"correct = {str(res.failed == 0).lower()}")
    print(json.dumps({"correct": res.failed == 0, "attempted": max(1, res.attempted),
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
