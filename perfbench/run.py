"""Frontier benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 5 --trace 0

Runs from the repository root. One Spark JVM at local[4] with an explicit
heap (SPARK_DRIVER_MEM); inputs are generated from --seed (cached under
.perfbench/cache/), and everything Spark writes — warehouse, bucketed ingest,
local dirs, event log — lives under a per-run temp root in .perfbench/tmp/,
removed at exit. Outputs are checked against the oracle (tests/oracle.py) or
a numpy reference on every timed operation.

--trace 0 prints the end-to-end metrics; --trace 1 enables Spark's event log
at launch, replays one operation's layer chain and prints the per-layer
metrics (perfbench/README.md lists which metric each layer should move).
The last stdout line is {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "2g"

END_TO_END = {
    # name -> (unit, per-workload meaning)
    "op_s_p50": ("s", {"crawl": "wave_s_p50", "finalize": "finalize_s"}),
    "in_per_s": ("1/s", {"crawl": "urls_per_s", "finalize": "rows_per_s"}),
    "out_per_s": ("1/s", {"crawl": "pairs_per_s", "finalize": "kept_rows_per_s"}),
    "setup_s": ("s", {"crawl": "setup_s", "finalize": "setup_s"}),
    "peak_rss_mb": ("MB", {"crawl": "peak_rss_mb", "finalize": "peak_rss_mb"}),
}


def _program_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "crawlingathome_worker_spark", "plans", "wave.py")
    ) and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))


def _spark_env(tmp: str, trace: bool) -> None:
    """Pin the host shape and keep every Spark write under `tmp`."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "pytmp")
    # every JVM spark-submit starts (its launcher too): temp files under
    # `tmp`, and no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [ROOT]
    )
    for d in ("local", "pytmp", "jtmp", "events"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _stop_spark(spark, started: list[int]) -> None:
    """Stop the session, then wait until the Spark JVM and every process it
    started (the Python worker daemon and its workers) have exited."""
    import signal

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
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
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if os.path.exists(f"/proc/{p}")]) and (
        time.monotonic() < deadline
    ):
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _end_to_end(res: dict, peak_rss_mb: float) -> dict:
    ops = [op for op in res["ops"] if op["ok"]]
    wall = sum(op["wall"] for op in ops)
    return {
        "op_s_p50": statistics.median(op["wall"] for op in ops),
        "in_per_s": sum(op["in"] for op in ops) / wall,
        "out_per_s": sum(op["out"] for op in ops) / wall,
        "setup_s": res["setup_s"],
        "peak_rss_mb": peak_rss_mb,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print(f"perfbench: the engine sources are not under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    import host
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(base, "tmp", uuid.uuid4().hex[:12])
    ctx = argparse.Namespace(
        cache=os.path.join(base, "cache"), tmp=tmp, seed=args.seed,
        seconds=args.seconds, trace=bool(args.trace),
    )
    os.makedirs(ctx.cache, exist_ok=True)
    _spark_env(tmp, ctx.trace)
    try:
        canary_before = host.canary_s()
        rss = host.PeakRss()
        t = time.perf_counter()
        from crawlingathome_worker_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        spark_version = spark.version
        try:
            res = workloads.WORKLOADS[args.workload](spark, ctx)
        finally:
            t = time.perf_counter()
            _stop_spark(spark, host.descendants(os.getpid()))
            stop_s = time.perf_counter() - t
            peak_rss_mb = rss.stop()
        canary_after = host.canary_s()
        res["setup_s"] += session_s
        groups = None
        if ctx.trace:
            import layers

            groups = layers.read_event_log(os.path.join(tmp, "events"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    ops = res["ops"]
    failed = sum(1 for op in ops if not op["ok"]) + (not all(res["end_state"].values()))
    attempted = len(ops) + bool(res["end_state"])  # timed operations + the end-state check
    correct = failed == 0
    kind = "crawl" if args.workload.startswith("crawl") else "finalize"
    e2e = _end_to_end(res, peak_rss_mb) if any(op["ok"] for op in ops) else None

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} local[{CPUS}] driver_mem={DRIVER_MEM} "
          f"nproc={os.cpu_count()} spark={spark_version}")
    print(f"  canary_s before={canary_before:.4f} after={canary_after:.4f}")
    walls = ", ".join(f"{op['wall']:.3f}" for op in ops)
    print(f"  ops n={len(ops)} walls=[{walls}]")
    if e2e is not None:
        for name, (unit, meaning) in END_TO_END.items():
            print(f"  {name:<12} {e2e[name]:>12.4f} {unit:<4} ({meaning[kind]})")
    print(f"  failed_frac  {failed / attempted:>12.4f}      ({failed}/{attempted})")
    for op in ops:
        if not op["ok"]:
            print(f"  FAILED {op['kind']}: {op.get('error')}")
    for check, ok in res["end_state"].items():
        if not ok:
            print(f"  FAILED end-state check: {check}")

    if ctx.trace:
        from layers import PER_LAYER, layer_metrics

        values = layer_metrics(args.workload, res, groups)
        if e2e is not None:
            print(f"  trace overhead: traced op_s_p50 {values['trace.op_s_p50']:.3f} s "
                  "(compare with an untraced run's op_s_p50)")
        for name, (unit, _) in PER_LAYER.items():
            print(f"  {name:<36} {values[name]:>12.4f} {unit}")
        metrics = {n: {"value": values[n], "unit": u} for n, (u, _) in PER_LAYER.items()}
    elif e2e is not None:
        metrics = {n: {"value": e2e[n], "unit": u} for n, (u, _) in END_TO_END.items()}
    else:
        metrics = {}
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": CPUS, "nproc": os.cpu_count(),
        "spark": spark_version, "driver_mem": DRIVER_MEM, "session_s": session_s,
        "stop_s": stop_s,
        "canary_s": [canary_before, canary_after], "ops": ops,
        "end_state": res["end_state"], **res["detail"],
    }
    print("perfbench-detail " + json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
