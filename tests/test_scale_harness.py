"""The scale harness (tools/scale.py) on the sf0.001 fixture, in-process.

Every operator but ``executors`` (one JVM per master) measures one tier
into a record redirected to a temporary directory. Each tier must keep
every field of the first tier of the committed SCALE_*.json record, so
old and new records stay comparable, and must carry a wall and a peak RSS
for every stage.
"""

from __future__ import annotations

import json
import os

import pytest

from conftest import SF_SMALL
from tools import scale

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAG = os.path.basename(SF_SMALL)


def _tiers(rec: dict) -> dict:
    return rec.get("tiers") or rec["sizes"]


@pytest.mark.parametrize("op", [op for op in scale.OPERATORS if op != "executors"])
def test_tier_keeps_committed_fields(spark, tmp_path, monkeypatch, op):
    committed_path = os.path.join(REPO, scale.OPERATORS[op][0])
    with open(committed_path) as f:
        committed = f.read()
    monkeypatch.setattr(scale, "RECORD_DIR", str(tmp_path))
    # one timed run per query keeps the seven operators near a minute
    monkeypatch.setattr(scale, "ONE_RUN_ABOVE", 0.0)
    rec = scale.run(op, [TAG])
    with open(tmp_path / scale.OPERATORS[op][0]) as f:
        assert json.load(f) == rec
    with open(committed_path) as f:
        assert f.read() == committed  # the committed record is untouched

    first = next(iter(_tiers(json.loads(committed)).values()))
    assert TAG in _tiers(rec)
    for tag, row in _tiers(rec).items():
        assert set(first) <= set(row), (tag, sorted(set(first) - set(row)))
        assert row["stages"], tag
        for name, st in row["stages"].items():
            assert st["sec"] >= 0 and st["peak_rss_gb"] > 0, (tag, name, st)
