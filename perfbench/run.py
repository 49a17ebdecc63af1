"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdw_ingest --seed 1 --seconds 9 --trace 0

Runs from the repository root. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed at exit); nothing else in the tree
is written, except the spans file of a traced run
(``.perfbench_out/``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. A failed
output check makes ``correct`` false and the exit code 1. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "data_engineer_challenge_spark"


def _bench_json() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def _tree_mb(dirs: list[str]) -> float:
    total = 0
    for d in dirs:
        for base, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 1e6


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit (it does when its
    stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(workload: str, seed: int, seconds: float, trace: bool):
    """Run one workload; returns (result, metrics it produced, run environment)."""
    from perfbench import trace as tracing
    from perfbench.workloads import WORKLOADS, Ctx, median

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{workload}-s{seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # pinning: local[<affinity CPUs>], and the repo root on the Python
    # workers' path (UDFs import the package and the traced extractor)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata files from the spark-submit launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]).strip()
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    events = work / "events"
    if trace:
        events.mkdir()
        conf.update(tracing.event_log_conf(str(events)))

    from data_engineer_challenge_spark.session import get_spark
    import pyspark

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        tracer = tracing.Tracer(spark.sparkContext) if trace else None
        ctx = Ctx(spark=spark, seed=seed, seconds=seconds, work=str(work), tracer=tracer)
        try:
            res = WORKLOADS[workload](ctx)
        finally:
            if tracer is not None:
                tracer.restore()
        java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        _stop(spark)
        spark = None
        env = {"cpus": cpus, "pyspark": pyspark.__version__, "java": java,
               "python": sys.version.split()[0], "seed": seed, "workload": workload,
               "seconds": seconds, "trace": trace}

        if not trace:
            res.e2e["setup_s"] = session_s + res.setup_s
            res.e2e["store_mb"] = _tree_mb(res.store_dirs)
            return res, res.e2e, env
        jobs = tracing.read_event_log(str(events))
        by_span = tracing.attribute_jobs(tracer, jobs)
        if res.post is not None:
            res.post(by_span)
        per_op = [(tracing.spark_totals(tracer, by_span, op), wall)
                  for op, wall in res.traced_ops]
        if per_op:
            for key in tracing.SPARK_KEYS:
                res.layer[f"spark.{key}"] = median(tot[key] for tot, _ in per_op)
            res.layer["spark.executor_busy_ratio"] = median(
                tot["executor_run_s"] / (wall * cpus) for tot, wall in per_op)
        overhead = res.overhead()
        if overhead is not None:
            res.layer["trace.overhead_ratio"] = overhead
        tracer.dump(str(ROOT / ".perfbench_out" / f"spans-{workload}-s{seed}.json"))
        return res, res.layer, env
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import LAYERS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} (have {sorted(WORKLOADS)})",
              file=sys.stderr)
        return 2
    res, produced, env = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"env": env}), file=sys.stderr)
    # every declared metric of the run's kind: end-to-end metrics and the
    # layers the workload calls must have been measured; a layer it never
    # calls did no work
    metrics, missing = {}, []
    for m in _bench_json()["per_layer" if args.trace else "end_to_end"]:
        name = m["name"]
        if name in produced:
            metrics[name] = {"value": produced[name], "unit": m["unit"]}
        elif args.trace and not name.startswith(LAYERS[args.workload]):
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            missing.append(name)
    if missing:
        print(f"perfbench: {args.workload} measured no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
