#!/usr/bin/env python3
"""Rebuild ``checksums.json``: the result digest of every fixed-input
statement the workloads run, each verified first against the DuckDB oracle
with ``quackspark.oracle.compare``.

    python3 perfbench/make_checksums.py

Run it from the root of a checkout when a workload's statement list
changes. It refuses to write a digest for a result DuckDB disagrees with.
"""

from __future__ import annotations

import json
import sys

import run
import stats
import workloads


def main() -> int:
    run.verify_fixtures()
    run.prepare_work_dir("make-checksums")

    from quackspark.entry import oracle_sql, queries
    from quackspark.oracle import compare, spark_rows
    from quackspark.relation import Connection
    from quackspark.session import get_session, register_testdata_views

    spark = get_session("perfbench-checksums", cpus=run.CPUS)
    try:
        register_testdata_views(spark, run.SF_DIR)
        osql, qs, con = oracle_sql(), queries(), Connection(spark)
        builds = {n: (lambda n=n: qs[n](spark, run.SF_DIR)) for n in workloads.CURATION}
        builds.update({n: (lambda n=n: con.sql(osql[n]).df) for n in workloads.SQL_READS})
        out, bad = {}, []
        for name, build in builds.items():
            problems = compare(build(), osql[name], run.SF_DIR)
            if problems:
                bad.append(name)
                print(f"{name}: differs from DuckDB: {problems[0]}", file=sys.stderr)
                continue
            out[name] = stats.rows_checksum(*spark_rows(build()))
            print(f"{name}: {out[name]}", file=sys.stderr, flush=True)
    finally:
        run.stop_spark(spark)
    if bad:
        print(f"not written: {len(bad)} statement(s) differ from DuckDB", file=sys.stderr)
        return 1
    with open(run.CHECKSUMS, "w") as f:
        json.dump(dict(sorted(out.items())), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
