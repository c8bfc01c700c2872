"""Time a subset of declared queries with the bench protocol (r13 tool).

Usage:
    python tools/bench_subset.py name1,name2,...

Each query is timed by ``bench.warm_median`` (a noop-write warm-up, then
the median of 3 timed noop writes), so subset numbers are directly
comparable to BENCH_r{N} columns. Reads $SPARK_GRAFT_SF_DIR (default
sf0.1) and $SPARK_GRAFT_CPUS like bench.py. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    names = sys.argv[1].split(",")

    from bench import _ensure_layout, warm_median

    from quackspark.entry import queries
    from quackspark.session import get_session

    spark = get_session("quackspark-bench-subset")
    qs = queries()
    _ensure_layout(spark, SF_DIR)

    times: dict[str, object] = {}
    for name in names:
        fn = qs.get(name)
        if fn is None:
            times[name] = None
            continue
        try:
            spark.sparkContext.setJobDescription(f"subset: {name}")
            times[name] = round(warm_median(spark, lambda: fn(spark, SF_DIR)), 4)
        except Exception as exc:
            print(f"subset: {name} failed: {exc}", file=sys.stderr)
            times[name] = f"ERR: {exc}"
        finally:
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": SF_DIR, "queries": times}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
