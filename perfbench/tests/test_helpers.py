"""Tests of the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.5]) == pytest.approx(0.5)
    assert stats.geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_quartiles_match_statistics_quantiles():
    values = [3.1, 1.2, 9.9, 4.4, 5.0, 2.2, 7.7, 6.1, 8.3, 0.4]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartiles(values) == (q1, q2, q3)
    assert stats.iqr_share(values) == pytest.approx((q3 - q1) / q2)
    assert stats.median(values) == statistics.median(values)
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    s = stats.summary(values)
    assert (s["min"], s["max"], s["n"]) == (0.4, 9.9, 10)


def test_iqr_share_of_constant_values_is_zero():
    assert stats.iqr_share([4.0] * 10) == 0.0
    assert math.isinf(stats.iqr_share([0.0, 0.0, 0.0]))


@pytest.mark.parametrize("name", ["setup_s", "plan.analysis_ms", "sql-rw-sf0.1",
                                  "a", "9lives", "x" * 64])
def test_valid_names(name):
    assert stats.valid_name(name)


@pytest.mark.parametrize("name", ["", "_lead", ".dot", "has space", "x" * 65,
                                  "pct%", "slash/name"])
def test_invalid_names(name):
    assert not stats.valid_name(name)


def test_every_emitted_name_is_valid():
    names = [n for n, _ in run.END_TO_END + run.PER_LAYER] + list(workloads.WORKLOADS)
    assert all(stats.valid_name(n) for n in names)
    assert len(names) == len(set(names))


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert spec["end_to_end"][0]["name"] == "setup_s"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_same_seed_gives_same_order_and_constants():
    names = list(workloads.CURATION)
    assert workloads.pass_order(7, 3, names) == workloads.pass_order(7, 3, names)
    assert sorted(workloads.pass_order(7, 3, names)) == sorted(names)
    assert workloads.write_constants(7, 3) == workloads.write_constants(7, 3)


def test_seed_and_pass_change_order_and_constants():
    names = list(workloads.CURATION)
    orders = {tuple(workloads.pass_order(s, 1, names)) for s in range(8)}
    assert len(orders) > 1
    assert workloads.pass_order(7, 1, names) != workloads.pass_order(7, 2, names)
    consts = {tuple(sorted(workloads.write_constants(s, 1).items())) for s in range(8)}
    assert len(consts) > 1


def test_write_constants_stay_in_range():
    for seed in range(50):
        c = workloads.write_constants(seed, seed % workloads.MAX_ROUNDS)
        assert 0 <= c["grp"] < 16 and 0 <= c["vt_grp"] < 16
        assert 0 <= c["up_base"] and c["up_base"] + 4 <= workloads.UPSERT_POOL


def test_checksum_ignores_row_order_and_column_listing():
    rows = [(1, "a", 0.5), (2, "b", None)]
    a = stats.rows_checksum(["x", "y", "z"], rows)
    assert a == stats.rows_checksum(["x", "y", "z"], list(reversed(rows)))
    assert a == stats.rows_checksum(["z", "x", "y"], rows)
    assert a.startswith("2:")


def test_checksum_sees_values_and_names():
    rows = [(1, "a", 0.5), (2, "b", None)]
    a = stats.rows_checksum(["x", "y", "z"], rows)
    assert a != stats.rows_checksum(["x", "y", "z"], [(1, "a", 0.5), (2, "b", 0.0)])
    assert a != stats.rows_checksum(["x", "y", "w"], rows)
    assert a != stats.rows_checksum(["x", "y", "z"], rows + rows[:1])


def test_committed_checksums_cover_every_fixed_statement():
    with open(run.CHECKSUMS) as f:
        checksums = json.load(f)
    assert set(checksums) == set(workloads.CURATION) | set(workloads.SQL_READS)


def test_self_times_subtract_children():
    tr = Tracer()
    root = tr.start("pass")
    t0 = tr.spans[root]["start"]
    tr.record("construct", t0 + 0.1, t0 + 0.3)
    tr.record("action", t0 + 0.3, t0 + 0.9)
    tr.end(root)
    tr.spans[root]["end"] = t0 + 1.0
    self_s = tr.self_times()
    assert self_s["construct"] == pytest.approx(0.2)
    assert self_s["action"] == pytest.approx(0.6)
    assert self_s["pass"] == pytest.approx(0.2)


def test_tracer_rejects_out_of_order_close():
    tr = Tracer()
    outer = tr.start("outer")
    tr.start("inner")
    with pytest.raises(RuntimeError):
        tr.end(outer)
