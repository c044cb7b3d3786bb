"""CDC benchmark entry point.

    python3 perfbench/run.py --workload backfill|tail --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds nothing: the engine is imported from
source. Prints progress to stderr and, as the last line of stdout, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See perfbench/BENCHMARK.md for workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "ev/s",
    "epoch_commit_p50_ms": "ms",
    "epoch_commit_p90_ms": "ms",
    "compaction_stall_ms_per_epoch": "ms",
    "lookup_p50_ms": "ms",
    "lookup_p90_ms": "ms",
    "scan_current_s": "s",
    "table_mb": "MB",
    "peak_rss_mb": "MB",
}


def log(*a) -> None:
    print(f"[{time.perf_counter() - T_START:7.1f}s]", *a, file=sys.stderr, flush=True)


def _rounded(d: dict) -> dict:
    return {k: round(v, 2) for k, v in d.items()}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Pin local[N] to the CPUs this process may use, size the driver heap
    to the box and keep Spark scratch inside the work dir."""
    import stats as S

    n = S.cpus()
    heap = S.driver_mem_mb(S.mem_total_kb())
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    fs = "unknown"
    with open("/proc/mounts") as f:
        best = ""
        for line in f:
            _, mnt, kind = line.split()[:3]
            if work.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, kind
    return {"cpus": n, "master": f"local[{n}]", "driver_mem": f"{heap}m",
            "spark_local_dirs": local, "work_fs": fs}


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_documentos_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import stats as S
    import workloads as W

    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    cpu0 = S.cpu_times()

    from etl_documentos_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    log("session up", env)

    prepare, warmup, measure, gate = W.WORKLOADS[args.workload]
    run = W.Run(spark, work, args.seed)
    try:
        ctx = prepare(run)
        log(f"input generated in {run.gen_s:.1f}s, digest {run.digest}")
        warmup(run, ctx)
        setup_s = time.perf_counter() - T_START - run.gen_s
        log(f"warm-up done, setup_s={setup_s:.2f}", _rounded(run.op_s))
        run.op_s.clear()
        if args.trace:
            import tracing

            run.tracer = tracing.Tracer()
            tracing.install(run.tracer)
        t_measure = time.perf_counter()
        try:
            m = measure(run, ctx)
        finally:
            if run.tracer:
                run.tracer.unpatch()
        measure_s = time.perf_counter() - t_measure
        log(f"measured in {measure_s:.1f}s", m.get("_samples"), _rounded(run.op_s))
        if args.trace:
            import layers

            per_layer = layers.summarize(run.tracer, run, ctx, args.workload)
        gate(run, ctx)
        log(f"gate: {run.failed} failed of {run.attempted}", run.problems)
        jvm_mb, py_mb = S.vm_hwm_kb(jvm_pid) / 1024, S.self_max_rss_kb() / 1024
        peak = jvm_mb + py_mb
        steal = S.steal_fraction(cpu0, S.cpu_times())
        info = {
            **env, "steal_frac": steal, "digest": run.digest,
            "gen_s": run.gen_s, "measure_s": measure_s,
            "jvm_hwm_mb": jvm_mb, "py_max_rss_mb": py_mb,
            "samples": m.get("_samples"),
        }
        log("run info", json.dumps(info))
        if args.trace:
            per_layer["host.steal_frac"] = (steal, "frac")
            per_layer["host.cpus"] = (env["cpus"], "count")
            metrics = {
                k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()
            }
        else:
            m.update(setup_s=setup_s, peak_rss_mb=peak)
            metrics = {
                k: {"value": m[k], "unit": u} for k, u in E2E_UNITS.items()
            }
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
