"""VCR benchmark: one workload per run, run from the repository root.

    python3 perfbench/run.py --workload record_live --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/README.md for sizing and the metric map):

- ``record_live``: an open-loop, fixed-rate load generator feeds the
  record stream; latency runs from when a record was due to the file
  sink commit that makes it visible; then a fixed backlog lands at once
  and is drained.
- ``replay_range``: repeated ``estimate_replay_time`` calls, then
  repeated ``play.replay`` runs into a Kinesis double over a seeded
  multi-day archive.
- ``neardup_stream``: a preloaded backlog of document files drained
  through the streaming near-dup twin, one file per trigger.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it (``# run-info ...``) records cpus, git sha, seed
and sample counts. A traced run also writes its spans under
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("record_live", "replay_range", "neardup_stream")
#: warm-JVM session set-ups after the cold launch; ``setup_s`` is their
#: median. Warm set-up time falls by about a third over the first six
#: restarts as the JIT settles, so a median of only one or two moved with
#: where on that slope they fell; ten put the median past the slope.
SETUP_WARM_CYCLES = 10


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=False,
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _prepare_env(work: str) -> dict[str, str]:
    """Point every scratch dir at ``work`` and let executors import the
    package from any working directory; returns extra Spark conf."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }


def _warm(spark) -> None:
    """One small JVM job: scheduler start-up and the first job's JIT
    happen here, not inside a measured window."""
    spark.range(64).selectExpr("sum(id)").collect()


def setup_session(extra_conf: dict[str, str]):
    """``1 + SETUP_WARM_CYCLES`` session set-ups (get_spark + warm-up);
    the first launches the JVM, later ones restart the SparkContext in
    it. Returns (spark, per-cycle (start_s, warm_s) list)."""
    from kinesis_vcr_spark.session import get_spark

    cycles = []
    spark = None
    for i in range(1 + SETUP_WARM_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
        t1 = time.perf_counter()
        _warm(spark)
        t2 = time.perf_counter()
        cycles.append((t1 - t0, t2 - t1))
    return spark, cycles


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric BENCHMARK.json declares, with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's VmHWM (peak resident set), MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def shutdown(spark) -> None:
    """Stop Spark, then the JVM (closing its stdin ends it) and wait."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kinesis_vcr_spark", "__init__.py")):
        print("perfbench: kinesis_vcr_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    work = tempfile.mkdtemp(prefix=f"work-{args.workload}-", dir=_ensure_dir(".perfbench"))
    try:
        extra_conf = _prepare_env(work)
        from perfbench import workloads  # noqa: PLC0415 — after env set-up

        spark = None
        try:
            spark, cycles = setup_session(extra_conf)
            result = workloads.run(
                args.workload, spark, work, args.seed, args.seconds, bool(args.trace)
            )
            setup_s = statistics.median(a + b for a, b in cycles[1:])
            rss = jvm_peak_rss_mb(spark)
        finally:
            shutdown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # a layer the workload never calls reports 0 (no calls, no time)
        units = per_layer_units()
        metrics = {k: workloads.metric(0, u) for k, u in units.items()}
        metrics.update(result.per_layer)
        metrics["session.start_s"] = workloads.metric(cycles[0][0], "s")
        metrics["session.warm_s"] = workloads.metric(cycles[0][1], "s")
        metrics["jvm.peak_rss_mb"] = workloads.metric(rss, "MB")
        unlisted = {k for k, m in metrics.items() if units.get(k) != m["unit"]}
        if unlisted:
            raise RuntimeError(f"per-layer metrics not in BENCHMARK.json: {unlisted}")
        spans_path = os.path.join(
            _ensure_dir(os.path.join(".perfbench", "out")),
            f"spans-{args.workload}-seed{args.seed}.json",
        )
        traced_e2e = dict(result.end_to_end)
        traced_e2e["setup_s"] = workloads.metric(setup_s, "s")
        result.tracer.write(spans_path, {"info": result.info, "end_to_end_traced": traced_e2e})
        result.info["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = dict(result.end_to_end)
        metrics["setup_s"] = workloads.metric(setup_s, "s")
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "git_sha": _git_sha(),
        "setup_cycles_s": [round(a + b, 4) for a, b in cycles],
        "jvm_peak_rss_mb": round(rss, 1),
        **result.info,
    }
    if result.errors:
        info["errors"] = result.errors[:20]
    print("# run-info " + json.dumps(info))
    print(
        json.dumps(
            {
                "correct": not result.errors,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _ensure_dir(rel: str) -> str:
    path = os.path.join(ROOT, rel)
    os.makedirs(path, exist_ok=True)
    return path


if __name__ == "__main__":
    sys.exit(main())
