"""Driver-window membership policy (VERDICT r13 #1).

The round driver's correctness gate verifies only the FIRST
``DRIVER_WINDOW`` entries of ``all_queries()``. Round 13 regressed
because a new query (``pipeline_training_prep_v3``) was registered
ABOVE a previously driver-verified one (``pipeline_negative_sampling``)
in its module's QUERIES dict, silently swapping the verified query out
of the window. Policy, pinned here: the window stays frozen — a superset
of the LATEST driver-verified set (CORRECTNESS_r14.json) modulo the
retirements listed in DELIBERATE_RETIREMENTS — i.e. new queries append
after verified ones.
"""

from __future__ import annotations

import json
import os

from quackspark.queries import DRIVER_WINDOW, all_oracles, all_queries

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: queries deliberately retired from the driver window. v3 entered the
#: window only through the erroneous r13 insertion that pushed
#: pipeline_negative_sampling out (VERDICT r13 #1); it left again when
#: that was undone, and stays declared and oracle-checked
#: (test_v3_still_declared_and_oracled, tests/test_oracle_parity.py).
DELIBERATE_RETIREMENTS: frozenset[str] = frozenset(
    {"pipeline_training_prep_v3"}
)


def _window() -> list[str]:
    return list(all_queries().keys())[:DRIVER_WINDOW]


def test_window_superset_of_r14_verified_set():
    with open(os.path.join(_REPO, "CORRECTNESS_r14.json")) as fh:
        verified = set(json.load(fh))
    missing = (verified - DELIBERATE_RETIREMENTS) - set(_window())
    assert not missing, (
        f"driver window lost previously-verified queries {sorted(missing)}; "
        "new queries must be registered BELOW existing ones in their "
        "module's QUERIES dict (VERDICT r13 #1)"
    )


def test_negative_sampling_back_in_window():
    """The specific r13 casualty: restored and above v3 (VERDICT r13 #1)."""
    w = _window()
    assert "pipeline_negative_sampling" in w


def test_window_entries_all_have_oracles():
    """Window entries get the strong three-check compare; a rows-only
    entry there would waste a verified slot (all_queries already defers
    oracle-less names past the window — pin it)."""
    oracles = all_oracles()
    assert all(n in oracles for n in _window())


def test_window_is_deterministic():
    assert _window() == _window()
    assert len(_window()) == DRIVER_WINDOW


def test_v3_still_declared_and_oracled():
    """pipeline_training_prep_v3 left the window (it was only there via
    the erroneous r13 insertion) but must stay declared and oracled —
    removal of a declared query is a regression."""
    qs = all_queries()
    assert "pipeline_training_prep_v3" in qs
    assert "pipeline_training_prep_v3" in all_oracles()
