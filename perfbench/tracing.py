"""Spans and counters recorded from outside the engine.

The traced run wraps the calls into each layer of the package at their
module boundaries (the engine is not modified):

- ``sources``   -- ``catalog.load`` / ``catalog.read_parquet_memo``
- ``functions`` -- ``cache.tracked_persist``
- ``scoring``   -- ``incremental.merge_partials``'s per-batch merge

and the benchmark opens spans itself around the registry call
(``operators``), physical planning (``plans``), the action (``exec``),
``release_all`` (``functions``), the streaming trigger (``streaming``)
and the serving build (``scoring``).  Operator modules bind ``load`` and friends by name
(``from ..sources.catalog import load``), so each wrapper is installed
on every package module that holds the original, not only on the
defining module.

Spans live in memory and are written when the run ends.  Spark
execution (jobs, stages, tasks, shuffle, spill) comes from the Spark
event log, attributed to spans by submission time: the benchmark is a
single closed-loop client, so at most one op runs at a time.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import threading
import time
import types

PACKAGE = "damg7245_casestudy_03_ai_scoring_engine_spark"
_PY4J_DELETE = "m\nd\n"  # py4j protocol: memory command, delete subcommand


class Tracer:
    """In-memory span recorder with a py4j round-trip counter.

    One span stack serves the client thread and the py4j callback
    thread that runs ``foreachBatch`` while the client waits on the
    stream, so merges nest under their ingest op.  Each parallel
    warm-up task calls ``isolate()`` to get a stack of its own; timed
    ops run on the client thread alone, where the py4j count and the
    event-log attribution are exact."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._shared = types.SimpleNamespace(stack=[], op_id=None)
        self._local = threading.local()
        self._append = threading.Lock()
        self.py4j_calls = 0
        self.paused = False
        self._undo: list = []

    def isolate(self) -> None:
        """Give the calling thread its own span stack and op."""
        self._local.state = types.SimpleNamespace(stack=[], op_id=None)

    def _state(self):
        return getattr(self._local, "state", self._shared)

    @property
    def _stack(self) -> list[int]:
        return self._state().stack

    @property
    def op_id(self) -> int | None:
        return self._state().op_id

    @op_id.setter
    def op_id(self, value: int | None) -> None:
        self._state().op_id = value

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": None,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.time(),
            "t0": time.perf_counter(),
            "py4j0": self.py4j_calls,
            **attrs,
        }
        with self._append:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["dur"] = time.perf_counter() - rec.pop("t0")
            rec["end"] = rec["start"] + rec["dur"]
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")

    # -- wrappers ---------------------------------------------------------

    def _patch_everywhere(self, original, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, original))

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        from damg7245_casestudy_03_ai_scoring_engine_spark.functions import cache
        from damg7245_casestudy_03_ai_scoring_engine_spark.scoring import incremental
        from damg7245_casestudy_03_ai_scoring_engine_spark.sources import catalog

        tracer = self
        send = GatewayClient.send_command

        def counting_send(client, command, *a, **k):
            # py4j's own deletes of garbage-collected proxies run whenever
            # Python's GC does; they are not round trips the code asked for
            if not tracer.paused and not command.startswith(_PY4J_DELETE):
                tracer.py4j_calls += 1
            return send(client, command, *a, **k)

        GatewayClient.send_command = counting_send
        self._undo.append((GatewayClient, "send_command", send))

        load = catalog.load

        def traced_load(spark, sf_dir, name, fan_out=False):
            with tracer.span("sources.load", table=name, fan_out=fan_out) as s:
                df = load(spark, sf_dir, name, fan_out=fan_out)
            if fan_out:
                # the benchmark's own plan probe is not an engine round trip
                tracer.paused = True
                try:
                    root = df._jdf.queryExecution().logical().nodeName()
                finally:
                    tracer.paused = False
                s["repartition_kept"] = root == "Repartition"
            return df

        memo = catalog.read_parquet_memo

        def traced_memo(spark, path):
            with tracer.span("sources.read_parquet_memo"):
                return memo(spark, path)

        persist = cache.tracked_persist

        def traced_persist(df, tag):
            prev = getattr(cache, "_LIVE", {}).get(tag)
            with tracer.span("functions.persist", tag=tag) as s:
                out = persist(df, tag)
            s["reused"] = prev is not None and out is prev
            return out

        merge = incremental.merge_partials

        def traced_merge(gold_dir):
            upsert = merge(gold_dir)

            def traced_upsert(ev_batch, batch_id):
                with tracer.span("scoring.merge", batch_id=batch_id) as s:
                    upsert(ev_batch, batch_id)
                s["gold_bytes"] = bytes_written_since(gold_dir, s["start"])

            return traced_upsert

        for orig, wrapped in (
            (load, traced_load),
            (memo, traced_memo),
            (persist, traced_persist),
            (merge, traced_merge),
        ):
            self._patch_everywhere(orig, wrapped)

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


def bytes_written_since(path: str, t: float) -> int:
    """Bytes of the files under ``path`` modified at or after ``t``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if st.st_mtime >= t:
                total += st.st_size
    return total


def count_exchanges(df) -> tuple[int, int]:
    """(Exchange nodes, live parquet scans) of the initial physical plan."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.plans.inspect import (
        live_parquet_scan_count,
    )

    def walk(node) -> int:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.initialPlan())
        n = 1 if name.endswith("Exchange") else 0
        for kids in (node.innerChildren(), node.children()):
            n += sum(walk(kids.apply(i)) for i in range(kids.size()))
        return n

    return walk(df._jdf.queryExecution().executedPlan()), live_parquet_scan_count(df)


# -- Spark event log --------------------------------------------------------


def _event_log_files(log_dir: str) -> list[str]:
    """The files of the single application log in ``log_dir``: a plain
    file, or a rolling ``eventlog_v2_*`` directory of ``events_<n>_*``."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the event log in ``log_dir``."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for path in _event_log_files(log_dir):
        with open(path) as fh:
            events = [json.loads(line) for line in fh]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append({"id": ev["Job ID"], "submit": ev["Submission Time"] / 1000})
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "submit": si.get("Submission Time", 0) / 1000,
                    "tasks": si["Number of Tasks"],
                }
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append(
                    {
                        "run_s": tm.get("Executor Run Time", 0) / 1000,
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                    }
                )
    for sid, st in stages.items():
        st["task_list"] = tasks.get(sid, [])
    return {"jobs": jobs, "stages": stages}


def _within(t: float, span: dict) -> bool:
    return span["start"] <= t <= span["end"]


def exec_counters(log: dict, op_span: dict, build_spans: list[dict]) -> dict:
    """Execution counters of one op: jobs and stages submitted during
    the op, excluding those launched while building the DataFrame."""

    def in_build(t: float) -> bool:
        return any(_within(t, b) for b in build_spans)

    jobs = [j for j in log["jobs"] if _within(j["submit"], op_span)]
    build_jobs = sum(1 for j in jobs if in_build(j["submit"]))
    stages = [
        s
        for s in log["stages"].values()
        if _within(s["submit"], op_span) and not in_build(s["submit"])
    ]
    task_lists = [s["task_list"] for s in stages]
    all_tasks = [t for tl in task_lists for t in tl]
    skew = 1.0
    for tl in task_lists:
        if len(tl) >= 2:
            med = statistics.median(t["run_s"] for t in tl)
            if med > 0:
                skew = max(skew, max(t["run_s"] for t in tl) / med)
    return {
        "build_jobs": build_jobs,
        "jobs": len(jobs) - build_jobs,
        "stages": len(stages),
        "tasks": len(all_tasks),
        "single_task_stages": sum(1 for s in stages if s["tasks"] == 1),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in all_tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in all_tasks),
        "spill_bytes": sum(t["spill"] for t in all_tasks),
        "task_skew": skew,
        "task_run_s": sum(t["run_s"] for t in all_tasks),
    }


# -- aggregation ------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals
    (children of one span never overlap: the client is sequential)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["dur"]
    return {s["id"]: s["dur"] - child_time.get(s["id"], 0.0) for s in spans}


def _layer(name: str) -> str:
    return name.split(".", 1)[0]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tracer: Tracer, ops: list[dict], log: dict, cores: int) -> dict:
    """Per-layer metrics over the timed ops of one run.

    Times and counts are means per timed op; the scoring and streaming
    metrics are means per ingest (or serve) op; ratios are pooled."""
    spans = tracer.spans
    selfs = self_times(spans)
    timed = [o for o in ops if o["phase"] == "timed" and "span" in o]
    timed_ids = {o["op_id"] for o in timed}
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        if s["op"] in timed_ids:
            by_op.setdefault(s["op"], []).append(s)
    n = max(len(timed), 1)

    def named(prefix: str, op_id: int) -> list[dict]:
        return [s for s in by_op.get(op_id, []) if s["name"] == prefix]

    def total(prefix: str, key: str = "dur") -> float:
        return sum(s[key] for op in timed_ids for s in named(prefix, op))

    execs, exec_walls, self_check = [], [], []
    layer_self: dict[str, float] = {}
    for o in timed:
        op_span = spans[o["span"]]
        builds = named("operators.build", o["op_id"]) + named("scoring.serve_build", o["op_id"])
        execs.append(exec_counters(log, op_span, builds))
        # Spark runs during the action; an ingest op is all streaming trigger
        actions = named("exec.action", o["op_id"])
        exec_walls.append(sum(a["dur"] for a in actions) if actions else op_span["dur"])
        own = by_op.get(o["op_id"], [])
        # the harness times the op around its span: any gap is tracing cost
        self_check.append(abs(sum(selfs[s["id"]] for s in own) - o["latency"]))
        for s in own:
            layer_self[_layer(s["name"])] = layer_self.get(_layer(s["name"]), 0.0) + selfs[s["id"]]

    loads = [s for op in timed_ids for s in by_op.get(op, []) if s["name"].startswith("sources.")]
    persists = [s for op in timed_ids for s in named("functions.persist", op)]
    merges = [s for op in timed_ids for s in named("scoring.merge", op)]
    ingests = [o for o in timed if o["kind"] == "ingest"]
    serves = [o for o in timed if o["kind"] == "serve"]
    action_s = total("exec.action")
    gold_written = sum(s.get("gold_bytes", 0) for s in merges)

    metrics = {
        "operators.build_s": total("operators.build") / n,
        "operators.py4j_calls": total("operators.build", "py4j") / n,
        "operators.build_jobs": _mean(e["build_jobs"] for e in execs),
        "sources.load_calls": len(loads) / n,
        "sources.load_s": sum(s["dur"] for s in loads) / n,
        "sources.fanout_repartitions": sum(1 for s in loads if s.get("repartition_kept")) / n,
        "functions.persist_calls": len(persists) / n,
        "functions.persist_reuse_ratio": (
            sum(1 for s in persists if s.get("reused")) / len(persists) if persists else 0.0
        ),
        "functions.release_s": sum(
            s["dur"] for s in spans if s["name"] == "functions.release" and s.get("timed")
        )
        / n,
        "plans.plan_s": total("plans.plan") / n,
        "plans.exchanges": total("plans.plan", "exchanges") / n,
        "plans.live_scans": total("plans.plan", "live_scans") / n,
        "exec.exec_s": action_s / n,
        "exec.jobs": _mean(e["jobs"] for e in execs),
        "exec.stages": _mean(e["stages"] for e in execs),
        "exec.tasks": _mean(e["tasks"] for e in execs),
        "exec.single_task_stages": _mean(e["single_task_stages"] for e in execs),
        "exec.shuffle_write_bytes": _mean(e["shuffle_write_bytes"] for e in execs),
        "exec.shuffle_read_bytes": _mean(e["shuffle_read_bytes"] for e in execs),
        "exec.spill_bytes": _mean(e["spill_bytes"] for e in execs),
        "exec.task_skew": _mean(e["task_skew"] for e in execs),
        "exec.core_utilization": (
            sum(e["task_run_s"] for e in execs) / (sum(exec_walls) * cores) if timed else 0.0
        ),
        "scoring.merge_s": sum(s["dur"] for s in merges) / max(len(ingests), 1),
        "scoring.merge_batches": float(len(merges)),
        "scoring.gold_bytes_written": gold_written / max(len(merges), 1),
        "scoring.serve_build_s": total("scoring.serve_build") / max(len(serves), 1),
        "streaming.trigger_s": (
            sum(spans[o["span"]]["dur"] for o in ingests) - sum(s["dur"] for s in merges)
        )
        / max(len(ingests), 1),
        "streaming.batches_per_trigger": len(merges) / max(len(ingests), 1),
    }
    return {
        "metrics": metrics,
        "layer_self_s": {k: layer_self[k] / n for k in sorted(layer_self)},
        "self_time_vs_op_wall_max_abs_s": max(self_check, default=0.0),
        "timed_ops": len(timed),
    }
