"""Parquet table catalog over the driver-generated test data.

Mirrors the reference's Snowflake table scans (every
``cur.execute("SELECT ...")`` — reference app/services/snowflake.py:14-30,
app/scoring_engine/signal_store.py:70-113) with ``spark.read.parquet``
scans.  Catalyst handles column pruning + predicate pushdown, so the
callers just ``.select``/``.filter`` declaratively.

At 100 TB these tables would be Delta/partitioned parquet; the reader
is path-based so the same code works on a directory of many files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension-sized tables that should always end up on the build side of
# a broadcast join at any scale factor (region/nation are fixed-size;
# supplier/part grow slowly relative to the fact tables).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

# Schema memo per (SparkSession id, parquet path): `spark.read.parquet`
# runs a 1-task schema-inference job against the footer on EVERY call,
# so a bench pass over N queries × M tables × R reps paid N·M·R footer
# jobs (stage-probe r13: TPC-H Q5 ran SIX 1-task `parquet at` stages
# per run, one per table).  Inferring once per session and passing the
# explicit schema afterwards removes those jobs; pure metadata, not a
# result cache — at 100 TB the catalog (Delta/Iceberg/metastore) serves
# the schema the same way (guide §6: listing/planning is driver-side
# overhead to amortize).  Keyed by session id so a new session (new
# confs, e.g. nanosAsLong) re-infers.
_SCHEMA_MEMO: dict[tuple[str, str], "T.StructType"] = {}

# Scan-parallelism memo per (SparkSession id, parquet path): whether the
# scan itself already fans out (see _scan_fans_out).  Driver-side footer
# metadata, read once per session per table.
_FAN_OUT_MEMO: dict[tuple[str, str], bool] = {}


def _prune_dead_sessions(app_id: str) -> None:
    """Drop memo entries owned by other (stopped) sessions so the
    memos cannot pin DataFrame/py4j object graphs of dead sessions in
    long-lived multi-session processes.  Every memo entry point calls
    this, and it checks all three memos — a session that only touches
    one of them still frees the others.  One pass over small dicts."""
    for memo in (_SCHEMA_MEMO, _DF_MEMO, _FAN_OUT_MEMO):
        stale = [k for k in memo if k[0] != app_id]
        for k in stale:
            memo.pop(k, None)


def _scan_fans_out(spark: SparkSession, path: str) -> bool:
    """True when the parquet scan ALREADY yields at least
    defaultParallelism effective input splits, so a fan-out
    repartition would be a gratuitous full shuffle of the base table
    (guide §2.1/§2.5 — the r13 verdict's top scale risk).

    Parquet effective split granularity is the ROW GROUP: Spark cuts
    files into byte ranges at `spark.sql.files.maxPartitionBytes`, but
    only the range containing a row-group start produces rows, so a
    single-row-group file pins the scan to one task no matter how it
    is split.  The check is a bounded driver-side footer read (the
    `_long_ts_ns_multiplier` discipline): ≥ parallelism FILES fans out
    trivially; otherwise row groups are summed file-by-file with an
    early stop at the threshold.  At 100 TB a manifest-backed format
    answers this from table metadata the same way.  On any read error
    the answer is False (keep the repartition — the safe local
    posture)."""
    import glob as _glob
    import os as _os

    par = spark.sparkContext.defaultParallelism
    try:
        if _os.path.isdir(path):
            files = _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
        else:
            files = [path]
        if len(files) >= par:
            return True
        import pyarrow.parquet as pq

        rg = 0
        for f in files:
            rg += pq.ParquetFile(f).metadata.num_row_groups
            if rg >= par:
                return True
        return False
    except Exception:  # pragma: no cover - footer read is best-effort
        return False


def load(spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False) -> DataFrame:
    """Read one test table.

    fan_out=True requests default-parallelism input splits before
    expression-heavy narrow stages (shingling, hashing, vector math).
    The test parquet files have a SINGLE row group, so their scan
    cannot split and would pin the whole pipeline to one task — for
    those a round-robin repartition is inserted.  On multi-file /
    multi-row-group production tables the scan fans out by itself and
    the repartition is SKIPPED (`_scan_fans_out`) — r14: the previous
    unconditional `repartition(defaultParallelism)` baked a full
    base-table shuffle into every consumer plan at scale.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # Older fixtures store ts as parquet TIMESTAMP(NANOS), which
        # vanilla Spark refuses to read; this legacy conf maps those to
        # LongType (ns since naive epoch).  Newer fixtures store
        # TIMESTAMP_NTZ(µs), where the conf is a no-op — those are
        # normalized to the same int64-ns contract below.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    app_id = spark.sparkContext.applicationId
    memo_key = (app_id, path)
    _prune_dead_sessions(app_id)
    schema = _SCHEMA_MEMO.get(memo_key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[memo_key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = normalize_events_ts(df, source_path=path)
    if fan_out:
        fans = _FAN_OUT_MEMO.get(memo_key)
        if fans is None:
            fans = _scan_fans_out(spark, path)
            _FAN_OUT_MEMO[memo_key] = fans
        if not fans:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


_DF_MEMO: dict[tuple[str, str], tuple[DataFrame, tuple | None]] = {}


def _layout_sig(path: str) -> tuple | None:
    """Cheap change signature of a layout root: (mtime_ns, size) of the
    directory entry itself.  Any rewrite of the layout (overwrite
    recreates the root; a partitioned write adds/removes entries in
    it) bumps the root mtime, so a changed signature means the memoized
    file index would be stale."""
    import os as _os

    try:
        st = _os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """Session-memoized read of a WRITE-ONCE layout artifact
    (bucketed/partitioned/z-ordered scratch tables written once per
    (session, sf) and read back on every run of their consumer
    queries).

    Memoizes the DataFrame itself, not just the schema: a fresh
    path-based `spark.read.parquet` re-runs partition DISCOVERY
    (driver-side recursive file listing — ~0.35 s per build against
    the month-partitioned lineitem layout) on EVERY call, while the
    memoized DataFrame keeps its resolved InMemoryFileIndex.  Pure
    metadata, not a result cache — executions still scan the files;
    at 100 TB a manifest-backed table format (Delta/Iceberg) serves
    the file list the same way (guide §6: listing is driver overhead
    to amortize; table formats avoid directory listing altogether).

    The write-once caller contract (all call sites create a fresh
    `scratch_dir` and write before the first read) is now ENFORCED,
    not just documented (r13 advisor note): the memo records the
    layout root's change signature (`_layout_sig`, one os.stat per
    access) and a rewritten path invalidates the entry — the next
    access re-resolves the file index instead of serving a stale
    listing."""
    app_id = spark.sparkContext.applicationId
    memo_key = (app_id, path)
    _prune_dead_sessions(app_id)
    sig = _layout_sig(path)
    hit = _DF_MEMO.get(memo_key)
    if hit is not None and hit[1] == sig:
        return hit[0]
    df = spark.read.parquet(path)
    _DF_MEMO[memo_key] = (df, sig)
    return df


def _long_ts_ns_multiplier(source_path: str) -> int:
    """When the scan yields a LongType ts, decide what unit the file
    actually stores (driver-side parquet footer read — no Spark job).

    parquet TIMESTAMP(NANOS) under `nanosAsLong` → already ns (×1).
    A PLAIN int64 column has no declared unit, so infer it from the
    row-group max statistic: pick the power-of-1000 multiplier that
    lands the epoch in the plausible ns range (1973–2128).  Defensive
    against the driver's testdata regenerations switching encodings —
    the round-2 ts regression class."""
    try:
        import pyarrow.parquet as pq

        f = pq.ParquetFile(source_path)
        t = f.schema_arrow.field("ts").type
        if str(t).startswith("timestamp[ns"):
            return 1
        mx = None
        for rg in range(f.metadata.num_row_groups):
            for ci in range(f.metadata.num_columns):
                col = f.metadata.row_group(rg).column(ci)
                if col.path_in_schema == "ts" and col.statistics is not None:
                    v = col.statistics.max
                    if isinstance(v, int):
                        mx = v if mx is None else max(mx, v)
        if mx is None:
            return 1
        for mult in (1, 1_000, 1_000_000, 1_000_000_000):
            if 1e17 <= mx * mult < 5e18:  # ~1973..2128 as ns
                return mult
    except Exception:  # pragma: no cover - footer read is best-effort
        pass
    return 1


def normalize_events_ts(df: DataFrame, source_path: str | None = None) -> DataFrame:
    """Normalize events.ts to the repo-wide contract: int64 nanoseconds
    since the NAIVE epoch (a wall-clock instant read as UTC), matching
    `ns()` literals and DuckDB's naive-TIMESTAMP comparisons exactly.

    Branches on the dtype the scan actually produced:

    - LongType — fixture was TIMESTAMP(NANOS) read under
      `nanosAsLong` (pass through), or a PLAIN int64 whose unit is
      inferred from the parquet footer stats (`_long_ts_ns_multiplier`)
      and rescaled to ns.
    - TimestampNTZType — fixture is TIMESTAMP_NTZ(µs).  Converted with
      pure-NTZ `timestampdiff` arithmetic against the NTZ epoch, which
      is session-timezone-proof (`to_utc_timestamp`/`unix_micros` are
      NOT: they implicitly route NTZ through the session zone and
      shift the value — verified under America/New_York).
    - TimestampType (LTZ) — instant-based `unix_micros`, inherently
      timezone-proof.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        mult = _long_ts_ns_multiplier(source_path) if source_path else 1
        if mult == 1:
            return df
        return df.withColumn("ts", (F.col("ts") * F.lit(mult)).cast("long"))
    if isinstance(dt, T.TimestampNTZType):
        ns_col = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
        )
    elif isinstance(dt, T.TimestampType):
        ns_col = F.unix_micros(F.col("ts")) * F.lit(1000)
    else:  # pragma: no cover - unexpected fixture dtype
        raise TypeError(f"events.ts has unsupported dtype {dt}")
    return df.withColumn("ts", ns_col.cast("long"))


def ns(iso_date: str) -> int:
    """Nanoseconds since epoch for a naive ISO date/datetime literal —
    the boundary form for filters on events.ts (matches DuckDB's naive
    TIMESTAMP comparison exactly, independent of session timezone)."""
    from datetime import datetime, timezone

    fmt = "%Y-%m-%d %H:%M:%S" if " " in iso_date else "%Y-%m-%d"
    dt = datetime.strptime(iso_date, fmt).replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000


def load_all(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load(spark, sf_dir, n) for n in (names or TABLES)}
