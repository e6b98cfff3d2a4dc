#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scoring-cold --seed 7 --seconds 30 --trace 0

Run from the root of a checkout.  Inputs are generated from the seed
into ``.perfbench_work/`` and removed at exit; per-run records (and,
with ``--trace 1``, the spans and per-layer report) are written under
``.perfbench_out/``.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics untraced, per-layer metrics traced).  See
perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "1g"


def _process_start() -> float:
    """Wall-clock start of this process, from /proc (10 ms ticks)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


PROCESS_START = _process_start()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its JVM child."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) at the highest percentile
    with at least ten samples beyond it, never below the median."""
    xs = sorted(latencies)
    n = len(xs)
    k = max(n - 11, n // 2)  # index of the order statistic
    return xs[k], 100.0 * (k + 1) / n, n - k - 1


def _configure_env(work: str) -> None:
    # Everything the engine, Spark and py4j write goes under the work dir.
    for sub in ("tmp", "scratch", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files in the system temp dir, from any JVM we launch
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def _start_spark(work: str, trace: bool):
    from damg7245_casestudy_03_ai_scoring_engine_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: no resizing, and a steadier peak RSS
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", cpus=CORES, shuffle_partitions=min(32, CORES), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)


def end_to_end(h, extra: dict) -> tuple[dict, dict]:
    """(end-to-end metric values, run detail) of a finished workload."""
    timed = [o for o in h.ops if o["phase"] == "timed"]
    ok_lat = [o["latency"] for o in timed if o["ok"]]
    timed_wall = h.window_end - h.window_start - h.untimed_s
    value, pct, beyond = tail(ok_lat) if ok_lat else (0.0, 0.0, 0)
    metrics = {
        "setup_s": h.setup_end - PROCESS_START,
        "ops_per_s": len(timed) / timed_wall,
        "op_p50_s": statistics.median(ok_lat) if ok_lat else 0.0,
        "op_tail_s": value,
        "peak_rss_mb": extra.pop("peak_rss_mb"),
    }
    detail = {
        "op_tail_percentile": pct,
        "op_tail_samples_beyond": beyond,
        "timed_ops": len(timed),
        "timed_wall_s": timed_wall,
        "failed_op_ratio": len(h.failures) / max(len(h.ops), 1),
        **extra,
    }
    return metrics, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _configure_env(work)
    try:
        result = _run(args, tag, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(result)
    return 0


def _run(args, tag: str, work: str, out_dir: str) -> str:
    """Run the workload and write its records; returns the result line."""
    import numpy as np

    import check
    import workloads

    # The engine is imported before any input is generated, so a
    # checkout without it fails fast.
    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY  # noqa: F401
    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring import incremental  # noqa: F401

    expected = check.load_expected(workloads.CHECKED_QUERIES)
    tracer = None
    spark = _start_spark(work, bool(args.trace))
    try:
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
            tracer.install()
        h = workloads.Harness(spark, args.workload, work, expected, tracer)
        fn, nominal_round_s = workloads.WORKLOADS[args.workload]
        rounds = max(1, round(args.seconds / nominal_round_s))
        extra = fn(h, np.random.default_rng(args.seed), rounds)
        extra = {**(extra or {}), "peak_rss_mb": peak_rss_mb()}
        app_id = spark.sparkContext.applicationId
    finally:
        if tracer is not None:
            tracer.uninstall()
        _stop_spark(spark)  # also flushes the event log

    values, detail = end_to_end(h, extra)
    metrics = _as_printed(values, 0)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "rounds": rounds,
        "trace": args.trace,
        "cores": CORES,
        "app_id": app_id,
        "metrics": metrics,
        "detail": detail,
        "failures": h.failures,
        "ops": h.ops,
    }
    printed = metrics
    if args.trace:
        report = tracing.per_layer(
            tracer, h.ops, tracing.read_event_log(os.path.join(work, "eventlog")), CORES
        )
        report["metrics"].update(
            {
                k: detail.get(k, 0.0)
                for k in ("failed_op_ratio", "ingest_p50_s", "serve_p50_s", "gold_bytes_per_input_byte")
            }
        )
        report["end_to_end_traced"] = metrics
        report["tracing_overhead"] = _overhead(out_dir, args, metrics)
        trace_dir = os.path.join(out_dir, tag)
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        tracer.dump(os.path.join(trace_dir, "spans.jsonl"))
        with open(os.path.join(trace_dir, "report.json"), "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
        record["per_layer"] = report
        printed = _as_printed(report["metrics"], 1)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)

    print(json.dumps({"detail": detail, "failures": h.failures}, default=str))
    return json.dumps(
        {
            "correct": not h.failures,
            "attempted": len(h.ops),
            "failed": len(h.failures),
            "metrics": printed,
        }
    )


def _declared(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def _as_printed(values: dict[str, float], trace: int) -> dict:
    units = _declared(trace)
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(values)} do not match BENCHMARK.json {sorted(units)}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def _overhead(out_dir: str, args, traced: dict) -> dict:
    """Traced minus untraced end-to-end metrics for the same workload
    and seed, when an untraced run of them is on record."""
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    try:
        with open(path) as fh:
            base = json.load(fh)["metrics"]
    except (OSError, ValueError, KeyError):
        return {"available": False, "reason": f"no untraced record at {os.path.basename(path)}"}
    return {
        "available": True,
        **{
            k: {
                "traced": traced[k]["value"],
                "untraced": base[k]["value"],
                "delta": traced[k]["value"] - base[k]["value"],
            }
            for k in traced
            if k in base
        },
    }


if __name__ == "__main__":
    sys.exit(main())
