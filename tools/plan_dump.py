#!/usr/bin/env python
"""Dump `.explain("formatted")` for headline (bench=True) queries to
plans/r<ROUND>/<query>_{before,after}.txt — an optimization round's
plan evidence.  Usage:

    python tools/plan_dump.py ROUND before [name ...]
    python tools/plan_dump.py ROUND after  [name ...]

With no names, dumps every bench-flagged query.  Plans are captured at
sf0.001 (same scale as PLANS.md) in COLD state (tracked persists
released between queries) so before/after diffs are apples-to-apples.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from damg7245_casestudy_03_ai_scoring_engine_spark.functions.cache import release_all  # noqa: E402
from damg7245_casestudy_03_ai_scoring_engine_spark.operators import REGISTRY  # noqa: E402
from damg7245_casestudy_03_ai_scoring_engine_spark.plans.inspect import explain_str  # noqa: E402
from damg7245_casestudy_03_ai_scoring_engine_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    rnd, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", f"r{rnd}"
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(f"plan-dump-r{rnd}", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    specs = (
        [(n, REGISTRY[n]) for n in names]
        if names
        else [(n, s) for n, s in sorted(REGISTRY.items()) if s.bench]
    )
    for name, spec in specs:
        df = spec.fn(spark, SF)
        s = explain_str(df)
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(s if s.endswith("\n") else s + "\n")
        release_all()
        print(f"{name}: {s.count('Exchange ')} exchanges")
    spark.stop()


if __name__ == "__main__":
    main()
