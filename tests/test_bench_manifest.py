"""Bench manifest lockstep (VERDICT r3 directive #8): the driver's
BENCH_r{N} and the builder's BENCH_LOCAL_r{N} both come from bench.py's
single HEADLINE_MANIFEST — this pins that every manifest name resolves to
a registered query (and an oracle where required), that the sf1 section
covers the full manifest minus the two documented super-linear-oracle
exclusions, and that the manifest order is stable so round-over-round
per-query deltas stay like-for-like.
"""

from __future__ import annotations

import bench
from quackspark.entry import oracle_sql, queries


def test_manifest_names_resolve():
    qs = queries()
    missing = [n for n in bench.HEADLINE_MANIFEST if n not in qs]
    assert not missing, f"manifest names without a queries() entry: {missing}"


def test_manifest_oracles_exist():
    osql = oracle_sql()
    missing = [n for n in bench.HEADLINE_MANIFEST if n not in osql]
    assert not missing, f"manifest names without an oracle_sql() entry: {missing}"


def test_sf1_covers_full_manifest():
    assert bench.SF1_QUERIES == bench.HEADLINE_MANIFEST
    # only the two documented super-linear-oracle queries run Spark-only
    assert bench.SF1_SPARK_ONLY == {
        "dedup_cluster_components",  # recursive-CTE oracle ~390 s at sf1
        "sim_embedding_neardup",  # all-pairs O(N^2) oracle at sf1
    }


def test_manifest_is_ordered_and_duplicate_free():
    assert len(bench.HEADLINE_MANIFEST) == len(set(bench.HEADLINE_MANIFEST))
    # r12 (VERDICT r11 next #6): the window-form brute-force top-k is
    # retired from the headline — the heap form is the brute-force entry
    assert "sim_bruteforce_topk" not in bench.HEADLINE_MANIFEST
    assert "sim_bruteforce_heap" in bench.HEADLINE_MANIFEST
    # the five scan-heavy TPC-H headliners lead, pinning the historical
    # prefix every BENCH_r{N} since r1 starts with
    assert bench.HEADLINE_MANIFEST[:5] == [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q10_returned_items",
    ]


def test_contention_gate_skips_flagged_baselines():
    """r12 (VERDICT r11 wrong #1): a query's baseline is the newest
    local record whose own flag does NOT name it — a clean run no
    longer re-fires against a contaminated predecessor's columns."""
    times = {"q6_forecast_revenue": 0.20, "q1_pricing_summary": 1.0}
    records = [
        # newest record: q6's own column is flagged (with the r12 suffix
        # form), so it must be skipped as q6's baseline
        ("BENCH_LOCAL_r11.json",
         {"q6_forecast_revenue": [0.60], "q1_pricing_summary": [1.1]},
         {"q6_forecast_revenue (vs BENCH_LOCAL_r10.json)"}),
        ("BENCH_LOCAL_r10.json",
         {"q6_forecast_revenue": [0.16], "q1_pricing_summary": [1.0]},
         set()),
    ]
    assert bench._contention_suspects(times, records) == []
    # a REAL >2x divergence from the clean baseline still fires
    assert bench._contention_suspects(
        {"q6_forecast_revenue": 0.70}, records
    ) == ["q6_forecast_revenue (vs BENCH_LOCAL_r10.json)"]
    # bare-name flags (pre-r12 records) are honored too
    records[0] = (records[0][0], records[0][1], {"q6_forecast_revenue"})
    assert bench._contention_suspects(times, records) == []


def test_family_split_covers_manifest():
    """Every headline query maps to a reporting family and the totals
    helper sums covered queries only (bench.py _family/_family_totals)."""
    import bench

    fams = {bench._family(n) for n in bench.HEADLINE_MANIFEST}
    assert fams <= {"tpch", "json", "llm", "stream", "core"}
    got = bench._family_totals(
        {"q1_x": 2.0, "json_y": 1.0, "broken": -1.0},
        {"q1_x": 1.0, "json_y": 4.0, "broken": 9.9},
    )
    assert got == {"tpch": [2.0, 1.0, 2.0], "json": [1.0, 4.0, 0.25]}


def _r13_shaped_compact() -> dict:
    """Rebuild the compact dict in the NEW (r14) shape from the r13
    driver record's numbers — the known near-overflow case."""
    import json
    import os

    rec_path = os.path.join(os.path.dirname(bench.__file__), "BENCH_r13.json")
    with open(rec_path) as fh:
        parsed = json.load(fh)["parsed"]
    compact = {k: v for k, v in parsed.items() if k != "fam_sf1"}
    q = {}
    for n, row in parsed["q"].items():
        r = list(row[:4])
        while r and r[-1] is None:
            r.pop()
        q[n] = r
    compact["q"] = q
    s = parsed["sf1_summary"]
    compact["sf1_summary"] = {
        "n": s["covered_queries"], "spark": s["spark_total"],
        "duck": s["duckdb_total"], "ratio": s["ratio"],
        "duckn": s["duckdb_native_total"], "ratio_n": s["ratio_native"],
    }
    return compact


def test_compact_line_fits_driver_tail_with_contention():
    """VERDICT r13 #2: the compact line must carry >=200 chars of
    headroom under the driver's 2000-char tail WITH a populated
    contention block. Rebuild the r13 record (1938 chars in the old
    shape) in the new shape plus a 3-name contention block and assert
    the budget."""
    import json

    compact = _r13_shaped_compact()
    compact["contention_suspect"] = {
        "vs": "BENCH_LOCAL_r13.json",
        "n": 8,
        "queries": [
            "window_range_interval_frame",
            "pipeline_training_prep_recompute",
            "dedup_cluster_components",
        ],
    }
    line = bench._fit_compact_line(compact)
    assert len(line) <= bench.COMPACT_LINE_BUDGET
    # the default shape must fit WITHOUT any staged trim firing: every
    # field of the input survives in the emitted line
    assert json.loads(line) == compact
    assert bench.COMPACT_LINE_BUDGET <= 2000 - 200


def test_fit_compact_line_degrades_in_order():
    """If numbers get pathologically wide the staged trims shed the most
    redundant fields first and NEVER the per-query seconds."""
    import copy
    import json

    compact = _r13_shaped_compact()
    # inflate every row to 5-digit-seconds width to force the trims
    compact["q"] = {
        n: [99999.99, 99999, 99999.9, 99999] for n in compact["q"]
    }
    compact["contention_suspect"] = {
        "vs": "BENCH_LOCAL_r13.json", "n": 8,
        "queries": ["window_range_interval_frame"] * 3,
    }
    before = copy.deepcopy(compact)
    line = bench._fit_compact_line(compact)
    assert compact == before  # the trims never touch the caller's dict
    got = json.loads(line)
    # element 0 (the seconds) survives for every query
    assert set(got["q"]) == set(compact["q"])
    assert all(r[0] == 99999.99 for r in got["q"].values())
    # metric/value/sf/ratios survive every stage
    for key in ("metric", "value", "unit", "sf"):
        assert got[key] == compact[key]
