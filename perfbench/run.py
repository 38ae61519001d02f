"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload sql_serving --seed 1 --seconds 12 --trace 0

Workloads: ``sql_serving``, ``cdc_ingest``, ``corpus_admission`` (see
``perfbench/README.md``). One closed-loop client drives the engine's
public functions in this process on ``local[min(2, nproc)]``.

The run: start Spark; build the workload's tables several times (fresh
warehouse each) and keep the last; warm up; then run whole rounds of
operations until ``--seconds`` have passed; then check the final state.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs span
wrappers around the engine's layer entry points, alternates traced and
untraced rounds, and reports the per-layer metrics plus the tracing
overhead. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a line before it,
starting ``perfbench:``, repeats the workload's own metric names, the
input fingerprint and the envelope.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
WORKLOADS = ("sql_serving", "cdc_ingest", "corpus_admission")


def _workload(name: str, seed: int, work: Path):
    if name == "sql_serving":
        from perfbench.sql_serving import SqlServing as cls
    elif name == "cdc_ingest":
        from perfbench.cdc_ingest import CdcIngest as cls
    else:
        from perfbench.corpus_admission import CorpusAdmission as cls
    return cls(seed, work)


def measure(args, env) -> tuple[dict, dict]:
    from iceberg_quickstart_iac_spark.session import get_spark

    from perfbench.common import median
    from perfbench.envelope import CpuClock, peak_rss_mb
    from perfbench.trace import Tracer, install, layer_metrics

    wl = _workload(args.workload, args.seed, env.work)
    fingerprint = wl.generate()

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{env.cores}]",
        shuffle_partitions=env.cores,
        extra_conf=env.spark_conf(wl.c1_jit),
    )
    session_s = time.perf_counter() - t0
    tracer = Tracer()
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        cpu = CpuClock(jvm_pid)
        builds = []
        for i in range(wl.builds):
            t0 = time.perf_counter()
            wl.build(spark, env.work / f"warehouse-{i}")
            builds.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(env.work / f"warehouse-{i - 1}", ignore_errors=True)
        warehouse = env.work / f"warehouse-{wl.builds - 1}"
        if args.trace:
            install(tracer, warehouse)
        t0 = time.perf_counter()
        wl.warmup(spark, tracer)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + median(builds) + warm_s

        sc = spark.sparkContext
        records, groups = [], []
        traced_rounds, plain_rounds = [], []
        attempted = failed = 0
        r = 0
        start = time.perf_counter()
        deadline = start + args.seconds
        # a run measures at least the workload's ``min_rounds``; a traced
        # run at least two, untraced and traced rounds alternating, which
        # give the tracing overhead and the layer metrics
        min_rounds = max(wl.min_rounds, 2 if args.trace else 0)
        while time.perf_counter() < deadline or r < min_rounds:
            traced = bool(args.trace) and r % 2 == 1
            tracer.enabled = traced
            round_t0 = time.perf_counter()
            for op in wl.round(r):
                attempted += 1
                if args.trace:
                    gid = f"op-{attempted}" if traced else "untraced"
                    sc.setJobGroup(gid, gid)
                    if traced:
                        groups.append(gid)
                tracer.op = attempted
                t0, c0 = time.perf_counter(), cpu.read()
                try:
                    with tracer.span("op"):
                        rec = wl.run_op(spark, tracer, op)
                except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                    traceback.print_exc(file=sys.stderr)
                    rec = {"ok": False}
                rec["ms"] = 1e3 * (time.perf_counter() - t0)
                rec["cpu_ms"] = 1e3 * (cpu.read() - c0)
                rec["round"] = r
                if not rec["ok"]:
                    failed += 1
                records.append(rec)
            (traced_rounds if traced else plain_rounds).append(time.perf_counter() - round_t0)
            r += 1
        wall = time.perf_counter() - start
        tracer.enabled = False
        tracer.op = None
        problems = wl.finish(spark)
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        rss = peak_rss_mb(jvm_pid)

        e2e, human = wl.metrics(records, wall)
        if args.trace:
            metrics = layer_metrics(tracer, groups, spark, traced_rounds, plain_rounds,
                                    session_s, wl.layer_extra())
        else:
            metrics = {"setup_s": setup_s, **e2e, "peak_rss_mb": rss}
        human = {
            "setup_s": setup_s, "error_rate": failed / max(1, attempted),
            "peak_rss_mb": rss, **human, "rounds": r, "builds_s": builds,
            "session_start_s": session_s, "warmup_s": warm_s,
            "op_ms": [round(rc["ms"]) for rc in records],
            "op_cpu_ms": [round(rc["cpu_ms"]) for rc in records],
        }
        info = {
            "workload": args.workload, "seed": args.seed, "fingerprint": fingerprint,
            "cores": env.cores, "heap_mb": env.heap_mb, "contended_jvms": env.contended,
            "metrics": human,
        }
        result = {
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        return result, info
    finally:
        tracer.unpatch()
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM this process launched, and
    wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (CHECKOUT / "iceberg_quickstart_iac_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {CHECKOUT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(CHECKOUT))
    from perfbench.common import UNITS
    from perfbench.envelope import Envelope

    env = Envelope(CHECKOUT)
    if env.contended:
        print(f"perfbench: WARNING other Spark JVMs alive: {env.contended}", file=sys.stderr)
    try:
        result, info = measure(args, env)
    finally:
        env.close()
    result["metrics"] = {
        k: {"value": float(v), "unit": UNITS[k]} for k, v in result["metrics"].items()
    }
    print("perfbench: " + json.dumps(info, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
