"""Output checks for the benchmark: canonical result digests against the
registry's DuckDB oracles.

A result is canonicalized the way the repository's hostile-session gate
compares results (columns sorted by name, rows order-insensitive, floats
to 9 significant figures, Decimals as floats), then hashed.  The oracle
digests are stored in ``expected.json`` keyed by the SHA-256 of every
base table and the DuckDB version; when the key does not match (new
base data, new DuckDB) the oracles are re-run in process.

Refresh the stored digests with::

    python3 perfbench/check.py --refresh
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
EXPECTED_PATH = os.path.join(HERE, "expected.json")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# ingest-serve compares its final serve to the flagship oracle with the
# tolerance of the repository's incremental-scoring tests.
FLAGSHIP = "org_air_flagship"
FLAGSHIP_SCORES = ("vr_score", "hr_score", "synergy_score", "composite_score")
FLAGSHIP_EXACT = ("score_band", "n_items")
SCORE_ABS_TOL = 2e-4


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        v = float(f"{v:.9g}")
        # an integral double and an integer compare equal in the gate;
        # make them hash equal too
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return v
    if isinstance(v, (list, tuple)) and not hasattr(v, "asDict"):
        return [_norm(x) for x in v]
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        v = v.asDict()
    if isinstance(v, dict):
        return sorted((str(k), _norm(x)) for k, x in v.items())
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def canon(rows, colnames) -> list[tuple]:
    idx = sorted(range(len(colnames)), key=lambda i: colnames[i].lower())
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, repr(v)) for v in t))


def digest(rows, colnames) -> dict:
    cols = sorted(c.lower() for c in colnames)
    body = repr((cols, canon(rows, colnames))).encode()
    return {"rows": len(rows), "sha256": hashlib.sha256(body).hexdigest()}


def data_key() -> dict:
    import duckdb

    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(DATA_DIR, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode())
            h.update(fh.read())
    return {"data_sha256": h.hexdigest(), "duckdb": duckdb.__version__}


def _oracle_rows(con, sql: str):
    res = con.execute(sql)
    return res.fetchall(), [d[0] for d in res.description]


def compute_expected(names) -> dict:
    """Run the registry oracles for ``names`` over the base tables."""
    import duckdb

    from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(DATA_DIR, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out: dict = {"queries": {}}
        for name in names:
            rows, cols = _oracle_rows(con, REGISTRY[name].oracle)
            out["queries"][name] = digest(rows, cols)
            if name == FLAGSHIP:
                out["flagship_rows"] = flagship_table(rows, cols)
        return out
    finally:
        con.close()


def flagship_table(rows, colnames) -> dict[str, list]:
    """company_id -> [scores..., band, n_items] for tolerance checks."""
    pos = {c.lower(): i for i, c in enumerate(colnames)}
    keep = FLAGSHIP_SCORES + FLAGSHIP_EXACT
    return {
        str(r[pos["company_id"]]): [
            float(r[pos[c]]) if c in FLAGSHIP_SCORES else r[pos[c]] for c in keep
        ]
        for r in rows
    }


def load_expected(names) -> dict:
    """Stored digests when their key matches, else fresh oracle runs."""
    key = data_key()
    try:
        with open(EXPECTED_PATH) as fh:
            stored = json.load(fh)
    except FileNotFoundError:
        stored = {}
    if stored.get("key") == key and set(names) <= set(stored.get("queries", {})):
        return stored
    fresh = compute_expected(names)
    fresh["key"] = key
    return fresh


def check_flagship_serve(rows, want: dict[str, list], rows_ingested: int) -> None:
    """Raise AssertionError when a serve result disagrees with the
    flagship oracle (abs 2e-4 on scores; band and n_items exact) or
    does not account for every ingested row."""
    got = {str(r["company_id"]): r for r in rows}
    if set(got) != set(want):
        raise AssertionError(
            f"company set differs: {len(got)} served vs {len(want)} expected"
        )
    for cid, w in want.items():
        g = got[cid]
        for i, c in enumerate(FLAGSHIP_SCORES):
            if not math.isclose(float(g[c]), w[i], abs_tol=SCORE_ABS_TOL):
                raise AssertionError(f"company {cid} {c}: {g[c]} vs {w[i]}")
        for j, c in enumerate(FLAGSHIP_EXACT):
            if g[c] != w[len(FLAGSHIP_SCORES) + j]:
                raise AssertionError(f"company {cid} {c}: {g[c]} vs {w[len(FLAGSHIP_SCORES) + j]}")
    check_items(rows, rows_ingested)


def check_items(rows, rows_ingested: int) -> None:
    n = sum(int(r["n_items"] or 0) for r in rows)
    if n != rows_ingested:
        raise AssertionError(f"sum(n_items) {n} != rows ingested {rows_ingested}")


def main() -> int:
    if sys.argv[1:] != ["--refresh"]:
        print("usage: python3 perfbench/check.py --refresh", file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(HERE))
    from workloads import CHECKED_QUERIES

    out = compute_expected(CHECKED_QUERIES)
    out["key"] = data_key()
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(out['queries'])} digests to {EXPECTED_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
