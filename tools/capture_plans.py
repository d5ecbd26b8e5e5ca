"""Capture ``explain("formatted")`` for bench queries into
``plans/<round>/<query>_<tag>.txt`` (tag = before / after).

Usage: python tools/capture_plans.py <round> <tag> [sf_dir] [query ...]

``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR`` (the bench.py variable).

e.g. ``python tools/capture_plans.py r15 before`` writes
``plans/r15/*_before.txt``.  AQE is left ON (the production/bench
setting); the formatted explain then shows the initial plan under
AdaptiveSparkPlan — exchange count, join strategy,
PushedFilters/ReadSchema and Python-boundary nodes are all visible,
which is what before/after plan evidence needs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = (sys.argv[3] if len(sys.argv) > 3
              else os.environ.get("SPARK_GRAFT_SF_DIR"))
    if len(sys.argv) < 3 or not sf_dir:
        sys.exit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    only = set(sys.argv[4:])

    import __spark_entry__ as entry
    from bench import BENCH_QUERIES
    from preql_spark.engine import default_session

    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)

    spark = default_session(f"capture_plans_{rnd}")
    qs = entry.queries()
    names = [n for n in BENCH_QUERIES if not only or n in only] or sorted(only)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001 - capture what we can
            plan = f"ERROR constructing {name}: {type(e).__name__}: {e}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
