"""Split a declared query's bench column into construction vs action
time (r13 optimization probe, guide §1).

Construction = ``fn(spark, sf_dir)`` — for the pipeline/dedup queries
this includes real blocking work (hot-shingle guard collect, CC
limit-probe + union-find, lazy-checkpoint planning). A run is timed by
``bench.warm_median`` (construction plus the noop sink on the returned
frame); construction is timed inside each timed run, and the action's
median is the run median less the construction median.

Usage:
    python tools/probe_phases.py name1,name2,... [--profile]

``--profile`` additionally cProfiles one construction per query and
prints the top py4j/Python split.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    names = sys.argv[1].split(",")
    profile = "--profile" in sys.argv

    from bench import _drop_persisted, _ensure_layout, warm_median

    from quackspark.entry import queries
    from quackspark.session import get_session

    spark = get_session("quackspark-probe-phases")
    qs = queries()
    _ensure_layout(spark, SF_DIR)

    out: dict[str, object] = {}
    for name in names:
        fn = qs.get(name)
        if fn is None:
            out[name] = None
            continue
        cons: list[float] = []

        def build():
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            cons.append(time.perf_counter() - t0)
            return df

        # one broken query must not sink the probe (bench.py's policy)
        try:
            spark.sparkContext.setJobDescription(f"phases: {name}")
            run = warm_median(spark, build, on_warm=cons.clear)
        except Exception as exc:
            print(f"probe: {name} failed: {exc}", file=sys.stderr)
            out[name] = f"ERR: {exc}"
            continue
        finally:
            spark.sparkContext.setJobDescription(None)
        construct = statistics.median(cons)
        row = {
            "construct_median": round(construct, 4),
            "action_median": round(run - construct, 4),
        }
        if profile:
            import cProfile
            import io
            import pstats

            pr = cProfile.Profile()
            pr.enable()
            fn(spark, SF_DIR)
            pr.disable()
            s = io.StringIO()
            st = pstats.Stats(pr, stream=s).sort_stats("cumulative")
            st.print_stats(18)
            row["profile_head"] = s.getvalue()[:4000]
            _drop_persisted(spark)
        out[name] = row
    print(json.dumps({"sf_dir": SF_DIR, "queries": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
