"""The three workloads and the closed-loop harness that drives them.

One client in one process runs one op at a time against the engine's
public entry points (registry query functions, the incremental scoring
job and its serving view).  An op is timed from the call that builds
its DataFrame to the end of its action; input preparation and output
checks are excluded from the timed window.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import inputs
from check import check_flagship_serve, check_items, digest
from tracing import bytes_written_since, count_exchanges

# Query sets frozen when the benchmark was defined, so a later change to
# the registry's bench flags does not silently change a workload.  Both
# are subsets sized to a run of well under a minute (README "Sizes"): the
# flagship, the skewed co-occurrence query and one headliner per operator
# family the roadmap targets; the scoring family's flagship, rubric,
# evidence, VR/HR/synergy and SEM queries.
HEADLINE_QUERIES = (
    "org_air_flagship",
    "item_cooccurrence_topk",
    "regional_revenue_q5",
    "dedup_minhash_lsh",
    "rolling_window_metrics",
    "user_sessionization",
)
HEADLINE_REPS = 2
SCORING_QUERIES = (
    "org_air_flagship",
    "dimension_scores_table",
    "rule_synergy_scores",
    "hr_position_stack",
    "rubric_dimension_scores",
    "evidence_dimension_features",
    "keyword_taxonomy_match",
    "sem_ols_ci",
)
# Untimed warm-up queries run this many at a time: JIT and code
# generation dominate a cold JVM's first pass, and they overlap.
WARMUP_THREADS = 3
INGEST_BATCHES = 40
INGEST_WARMUP_BATCHES = 4
INGEST_ROUND_BATCHES = 4
CHECKED_QUERIES = tuple(sorted(set(HEADLINE_QUERIES) | set(SCORING_QUERIES)))


class Harness:
    """Runs ops, records their latency and failures, keeps the timed
    window, and opens trace spans when a tracer is given."""

    def __init__(self, spark, workload: str, work_dir: str, expected: dict, tracer=None):
        self.spark = spark
        self.workload = workload
        self.work_dir = work_dir
        self.expected = expected
        self.tracer = tracer
        self.ops: list[dict] = []
        self.failures: list[dict] = []
        self._lock = threading.Lock()  # the warm-up records ops from threads
        self.window_start: float | None = None
        self.window_end: float | None = None
        self.untimed_s = 0.0
        self.setup_end: float | None = None

    # -- bookkeeping -------------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)

    def start_window(self) -> None:
        self.setup_end = time.time()
        self.window_start = time.perf_counter()

    def close_window(self) -> None:
        self.window_end = time.perf_counter()

    @contextlib.contextmanager
    def untimed(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.window_start is not None and self.window_end is None:
                self.untimed_s += time.perf_counter() - t0

    def _fail(self, rec: dict, exc: BaseException, how: str) -> None:
        if not rec["ok"]:
            return  # one failure per op
        rec["ok"] = False
        self.failures.append(
            {
                "workload": self.workload,
                "query": rec["query"],
                "phase": rec["phase"],
                "kind": rec["kind"],
                "how": how,
                "error": type(exc).__name__,
                "message": str(exc)[:500],
                "traceback": traceback.format_exc(limit=4)[-1500:],
            }
        )

    def op(self, kind: str, query: str, phase: str, body):
        """Run one op; an exception is recorded, never raised."""
        with self._lock:
            rec = {"op_id": len(self.ops), "kind": kind, "query": query, "phase": phase, "ok": True}
            self.ops.append(rec)
        result = None
        if self.tracer is not None:
            self.tracer.op_id = rec["op_id"]
        t0 = time.perf_counter()
        with self.span("op", kind=kind, query=query, phase=phase) as s:
            try:
                result = body()
            except Exception as exc:  # noqa: BLE001 - a failed op never aborts the workload
                self._fail(rec, exc, "raised")
        rec["latency"] = time.perf_counter() - t0
        if self.tracer is not None:
            rec["span"] = s["id"]
            self.tracer.op_id = None
        return rec, result

    def verify(self, rec: dict, check) -> None:
        """Run an output check for ``rec``; a mismatch fails the op."""
        if not rec["ok"]:
            return
        with self.untimed():
            try:
                check()
            except Exception as exc:  # noqa: BLE001 - wrong output is a failed op
                self._fail(rec, exc, "wrong-output")

    # -- op bodies ---------------------------------------------------------

    def plan(self, df) -> None:
        if self.tracer is not None:
            with self.span("plans.plan") as s:
                s["exchanges"], s["live_scans"] = count_exchanges(df)

    def query(self, name: str, sf_dir: str, phase: str, collect: bool = False):
        from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY

        def body():
            with self.span("operators.build", query=name):
                df = REGISTRY[name].fn(self.spark, sf_dir)
            self.plan(df)
            with self.span("exec.action"):
                if collect:
                    return df, df.collect()
                df.write.format("noop").mode("overwrite").save()
            return df, None

        rec, result = self.op("query", name, phase, body)
        if collect and rec["ok"]:
            df, rows = result
            want = self.expected["queries"][name]
            self.verify(rec, lambda: _check_digest(digest(rows, df.columns), want))
        return rec

    def warmup(self, names, sf_dir: str) -> None:
        """Run each query once, untimed and in parallel, and check its
        result against the oracle; then drop every cache."""

        def one(name: str) -> None:
            if self.tracer is not None:
                self.tracer.isolate()
            self.query(name, sf_dir, "warmup", collect=True)

        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            for fut in [pool.submit(one, q) for q in names]:
                fut.result()
        self.release(timed=False)

    def release(self, timed: bool) -> None:
        from damg7245_casestudy_03_ai_scoring_engine_spark.functions.cache import release_all

        with self.span("functions.release", timed=timed):
            release_all()


def _check_digest(got: dict, want: dict) -> None:
    if got != want:
        raise AssertionError(f"result {got} != oracle {want}")


def _order(rng: np.random.Generator, names) -> list[str]:
    return [names[i] for i in rng.permutation(len(names))]


# -- workloads ----------------------------------------------------------------


def headline_warm(h: Harness, rng: np.random.Generator, rounds: int) -> None:
    """Warm headliners over the base tables as they are, in bench.py's
    regime: reps of one query back to back, caches released between
    queries."""
    sf = inputs.copy_base(h.path("base"))
    h.warmup(HEADLINE_QUERIES, sf)
    h.start_window()
    for _ in range(rounds):
        for q in _order(rng, HEADLINE_QUERIES):
            for _ in range(HEADLINE_REPS):
                h.query(q, sf, "timed")
            h.release(timed=True)
    h.close_window()


def scoring_cold(h: Harness, rng: np.random.Generator, rounds: int) -> None:
    """Each round scores a new data drop: every scoring query once, in a
    fixed order, against a fresh permuted multi-file snapshot at a new
    path."""
    snap = inputs.snapshot(h.path("snap-warmup"), rng)
    h.warmup(SCORING_QUERIES, snap)
    h.start_window()
    for rnd in range(rounds):
        with h.untimed():
            shutil.rmtree(snap)
            snap = inputs.snapshot(h.path(f"snap-{rnd}"), rng)
        for q in SCORING_QUERIES:
            h.query(q, snap, "timed")
            h.release(timed=True)
    h.close_window()


def ingest_serve(h: Harness, rng: np.random.Generator, rounds: int) -> dict:
    """Micro-batches of lineitem land one at a time in a stream source;
    each drop is ingested (availableNow trigger merging the gold
    partials) and the portfolio is served from the gold tables."""
    from damg7245_casestudy_03_ai_scoring_engine_spark.scoring.incremental import (
        run_incremental_scoring,
        score_from_partials,
    )

    stream, gold, ckpt = h.path("stream"), h.path("gold"), h.path("ckpt")
    staged = inputs.micro_batches(stream, h.path("staging"), rng, INGEST_BATCHES)
    # one batch is always kept back for the final check
    rounds = min(rounds, (INGEST_BATCHES - INGEST_WARMUP_BATCHES - 1) // INGEST_ROUND_BATCHES)
    state = {"rows": 0, "input_bytes": 0, "gold_bytes": 0}

    def ingest_body():
        with h.span("streaming.trigger"):
            run_incremental_scoring(h.spark, stream, gold, ckpt)

    def serve_body():
        with h.span("scoring.serve_build"):
            df = score_from_partials(h.spark, stream, gold)
        h.plan(df)
        with h.span("exec.action"):
            return df.collect()

    def land(path: str, rows: int, nbytes: int, phase: str) -> None:
        with h.untimed():
            inputs.drop(path, stream)
        t_wall = time.time()
        h.op("ingest", "run_incremental_scoring", phase, ingest_body)
        state["rows"] += rows
        if phase == "timed":
            with h.untimed():
                state["input_bytes"] += nbytes
                state["gold_bytes"] += bytes_written_since(gold, t_wall)
        srec, served = h.op("serve", "score_from_partials", phase, serve_body)
        ingested = state["rows"]
        if phase == "final":
            want = h.expected["flagship_rows"]
            h.verify(srec, lambda: check_flagship_serve(served, want, ingested))
        else:
            h.verify(srec, lambda: check_items(served, ingested))

    for i in range(INGEST_WARMUP_BATCHES):
        land(*staged[i], "warmup")
    h.start_window()
    timed = staged[INGEST_WARMUP_BATCHES : INGEST_WARMUP_BATCHES + rounds * INGEST_ROUND_BATCHES]
    for batch in timed:
        land(*batch, "timed")
    h.close_window()
    # Land everything left as one final batch so the last serve covers
    # all of lineitem and can be checked against the flagship oracle.
    rest = [p for p, _, _ in staged[INGEST_WARMUP_BATCHES + len(timed) :]]
    final = h.path("staging/lineitem_final.parquet")
    rows, nbytes = inputs.merge_batches(rest, final)
    land(final, rows, nbytes, "final")
    return {
        "ingest_p50_s": _median_latency(h, "ingest"),
        "serve_p50_s": _median_latency(h, "serve"),
        "gold_bytes_per_input_byte": state["gold_bytes"] / state["input_bytes"],
    }


def _median_latency(h: Harness, kind: str) -> float:
    lat = [o["latency"] for o in h.ops if o["phase"] == "timed" and o["kind"] == kind and o["ok"]]
    return statistics.median(lat) if lat else 0.0


# Workload -> (function, nominal seconds of one timed round on four
# cores).  A run times max(1, round(seconds / nominal)) whole rounds:
# the same multiset of ops on every run, whatever the host's speed.
WORKLOADS = {
    "headline-warm": (headline_warm, 12.0),
    "scoring-cold": (scoring_cold, 10.0),
    "ingest-serve": (ingest_serve, 9.0),
}
