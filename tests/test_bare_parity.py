"""Bare-session parity of the driver's query window.

The round driver runs the first ``DRIVER_WINDOW`` queries in a session it
owns: Spark-4-default ANSI on, a non-UTC session time zone and none of
quackspark's presets. Every query must self-prepare
(``session.prepare_session``) and still hash-match its DuckDB oracle.
``tools/full_parity_run.py --bare`` builds exactly that session, so it
runs here in a subprocess (about 85 s on 4 cores). The window includes
the write queries (``dml_update``, ``ddl_time_column``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from quackspark.queries import DRIVER_WINDOW, all_queries

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_window_matches_oracle_in_bare_session(tmp_path):
    names = list(all_queries())[:DRIVER_WINDOW]
    out = tmp_path / "parity.json"
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(_REPO, "tools", "full_parity_run.py"),
            "--bare",
            "--only",
            ",".join(names),
            "--out",
            str(out),
        ],
        capture_output=True,
        text=True,
        timeout=1500,
        cwd=_REPO,
    )
    assert out.exists(), proc.stderr[-4000:]
    results = json.loads(out.read_text())
    assert sorted(results) == sorted(names)
    bad = {n: r["err"] for n, r in results.items() if not r["hash_match"]}
    assert not bad, json.dumps(bad, indent=1)[:6000]
    assert proc.returncode == 0, proc.stdout[-2000:]
