"""Ingest-first benchmark of parquet_ingestor_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_microbatch --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists): ``ingest_microbatch``
and ``query_mix``; METRICS.md defines every metric and which end-to-end
metric each per-layer metric should move. One process runs one workload
on ``local[4]``: it writes seeded inputs under ``.perfbench_work/``,
starts the session and warms up (``setup_s``), repeats the workload's
timed operation until ``--seconds`` of timed work are done (``cpu_s``
per operation), checks every output outside the timed region, and
prints a summary line and then, as the last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, read
from traced operations (job groups, the SQL status store, streaming
progress), and the spans are written to ``.perfbench_out/``. A traced
run alternates untraced and traced operations and reports the
difference as ``tracing.overhead_ms``. Spark's log (stderr of the JVM)
goes to ``.perfbench_out/`` too; its ERROR lines are counted.

Both end-to-end metrics are CPU seconds of the whole process tree: this
process (which runs the program's Python side), the JVM it launches and
the processes the JVM forks; ``cpu_s`` leaves out the JVM's JIT
compiler threads, which ``session.cpu_jit_s`` reports.

Exits non-zero without a result when the program under test cannot be
imported.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = 4
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

#: Per-layer metrics of layers a workload does not enter are 0.
LAYERS_BY_WORKLOAD = {
    "ingest_microbatch": (
        "session.", "sources.", "ingest.", "pipeline.", "streaming.",
        "sink_readback.", "observability.", "tracing.",
    ),
    "query_mix": ("session.", "queries.", "checkpointing.", "tracing."),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def capture_stderr(path: str) -> int:
    """Point fd 2 at ``path`` so the JVM, which inherits it, logs there;
    return a copy of the original fd."""
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return saved


_ERROR_LINE = re.compile(r"\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


def error_log_lines(path: str) -> int:
    """Spark ERROR-level log lines ('<date> <time> ERROR <logger>: ...')."""
    with open(path, encoding="utf-8", errors="replace") as fh:
        return sum(1 for line in fh if _ERROR_LINE.search(line))


def spark_factory():
    from parquet_ingestor_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait()


def run(args) -> dict:
    import probes
    import workloads

    tracer = probes.Tracer()
    wl = workloads.WORKLOADS[args.workload](spark_factory, WORK, args.seed, tracer)
    stamps = probes.HostStamps()

    t_start = time.perf_counter()
    wl.prepare()
    t0 = time.perf_counter()
    cpu0 = probes.tree_cpu_s(os.getpid())
    wl.start()
    try:
        return measure(args, wl, tracer, stamps, t_start, t0, cpu0)
    finally:
        stop_spark(wl.spark)


def measure(args, wl, tracer, stamps, t_start, t0, cpu0) -> dict:
    import probes
    import workloads

    me = os.getpid()
    wl.warm_up()
    setup_s = probes.tree_cpu_s(me) - cpu0
    setup_wall_s = time.perf_counter() - t0
    if isinstance(wl, workloads.QueryMix):
        wl.oracle_check()
    t_checked = time.perf_counter()
    pid = probes.jvm_pid(wl.spark)
    probes.reset_peak_rss(pid)  # the peak of the timed ops, not of set-up

    ops: list[workloads.Op] = []
    timed = 0.0
    while True:
        op = workloads.Op(index=len(ops), traced=bool(args.trace) and len(ops) % 2 == 1)
        gc0, cpu0 = probes.gc_ms(wl.spark), probes.read_cpu(me, pid)
        p0 = time.perf_counter()
        try:
            wl.op(op)
            op.values.update(probes.cpu_between(cpu0, probes.read_cpu(me, pid)))
            op.layers["session.gc_ms"] = probes.gc_ms(wl.spark) - gc0
            wl.check(op)
            ops.append(op)
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            wl.attempted += 1
            wl.fail(f"{wl.name} op {op.index}: {type(exc).__name__}: {exc}")
            traceback.print_exc()
            op.wall_s = op.wall_s or time.perf_counter() - p0
        finally:
            wl.cleanup(op)
        timed += op.wall_s
        # traced runs go untraced, traced, untraced, so that the
        # overhead estimate straddles any warm-up trend
        done = timed >= args.seconds and (not args.trace or len(ops) >= 3)
        if done or len(wl.failures) >= 3:
            break

    untraced = [o for o in ops if not o.traced]
    traced = [o for o in ops if o.traced]
    metrics: dict[str, float] = {}
    info = {
        "ops": len(ops),
        "timed_s": round(timed, 3),
        "prepare_s": round(t0 - t_start, 3),
        "setup_wall_s": round(setup_wall_s, 3),
        "oracle_s": round(t_checked - t0 - setup_wall_s, 3),
        "loop_s": round(time.perf_counter() - t_checked, 3),
    }
    if untraced:
        # op wall time and peak RSS spread too widely from run to run on
        # a shared host to carry a bound: per-layer metrics, and shown
        # on the summary line
        op_wall = workloads.median(o.wall_s for o in untraced)
        info.update(
            op_s=round(op_wall, 3),
            op_cpu_s=[round(o.values["cpu_s"], 2) for o in untraced],
            cpu_parts_s={
                k.split(".")[1]: round(workloads.median(o.values[k] for o in untraced), 2)
                for k in probes.CPU_PARTS
            },
            **wl.summary(untraced),
        )
        metrics.update(
            setup_s=setup_s,
            **{
                k: workloads.median(o.values[k] for o in untraced)
                for k in ("cpu_s",) + probes.CPU_PARTS
            },
            **{"session.op_wall_s": op_wall, "session.peak_rss_mb": probes.peak_rss_mb(pid)},
        )
    if traced:
        for key in traced[0].layers:
            metrics[key] = workloads.median(o.layers.get(key, 0) for o in traced)
        metrics.update(wl.traced_extras(ops, info))
        metrics["tracing.overhead_ms"] = 1e3 * (
            workloads.median(o.wall_s for o in traced)
            - workloads.median(o.wall_s for o in untraced)
        )
        info["missing_metric_names"] = traced[0].values.get("missing_metric_names")
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(tracer.as_json(), fh)

    import pyspark

    info.update(stamps.finish())
    info.update(spark=pyspark.__version__, seed=args.seed, workload=args.workload)
    return {"wl": wl, "metrics": metrics, "info": info}


def report(args, spec, result, log_path) -> dict:
    """The result object: every metric BENCHMARK.json lists for this
    kind of run. A metric the run should have measured and did not is a
    failure, never a made-up value."""
    wl, measured = result["wl"], result["metrics"]
    measured["session.error_log_lines"] = error_log_lines(log_path)
    measured["session.error_rate"] = len(wl.failures) / max(1, wl.attempted)
    applies = LAYERS_BY_WORKLOAD[args.workload]
    metrics = {}
    for m in spec["per_layer"] if args.trace else spec["end_to_end"]:
        name = m["name"]
        if name in measured:
            value = measured[name]
        elif args.trace and not name.startswith(applies):
            value = 0.0
        else:
            wl.fail(f"metric {name} was not measured")
            continue
        metrics[name] = {"value": float(value), "unit": m["unit"]}
    result["info"]["error_rate"] = measured["session.error_rate"]
    return {
        "correct": not wl.failures,
        "attempted": max(1, wl.attempted),
        "failed": len(wl.failures),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import parquet_ingestor_spark  # noqa: F401 - the program under test
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    log_path = os.path.join(OUT, f"spark-{args.workload}-{args.seed}.log")
    os.makedirs(OUT, exist_ok=True)
    saved = capture_stderr(log_path)
    try:
        result = run(args)
        out = report(args, spec, result, log_path)
    finally:
        os.dup2(saved, 2)
        os.close(saved)
        shutil.rmtree(WORK, ignore_errors=True)
    info = result["info"]
    info["failures"] = result["wl"].failures[:5]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = " ".join(
        f"{k}={v['value']:.4g}{units[k]}" for k, v in out["metrics"].items() if v["value"]
    )
    print(f"perfbench {args.workload}: {shown} | {json.dumps(info, default=str)}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
