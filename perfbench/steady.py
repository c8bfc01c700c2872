#!/usr/bin/env python3
"""Steadiness record: run each workload several times with different seeds
and summarize every end-to-end metric with the host readings of the set.

    python3 perfbench/steady.py --runs 10 --label set-a
    python3 perfbench/steady.py --runs 5 --workloads curation-sf0.1 --label probe

Each run is ``perfbench/run.py --trace 0`` for ``BENCHMARK.json``'s
``run_seconds``, in its own process, as a single run is measured. The
sets go to ``STEADINESS.json``. Per workload and metric the record holds the median,
quartiles (``statistics.quantiles(values, n=4)``), min, max and the
quartile distance as a share of the median; per run it holds the seed,
the values, and the host's CPU steal and calibration-loop readings, so a
contended set can be told from a slow program. Sets are stored in the
record under ``--label``, a workload's runs replacing that workload's
earlier runs under the same label; when the record holds two or more sets, the
median drift of each later set against the first is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


RECORD = os.path.join(HERE, "STEADINESS.json")


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=240)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
    return {
        "seed": seed,
        "run_wall_s": time.time() - t0,
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "passes": detail["passes"],
        "first_pass_s": detail["first_pass_s"],
        "warmup_pass_s": detail["warmup_pass_s"],
        "pass_wall_s": detail["pass_wall_s"],
        "peak_rss_mb": detail["peak_rss_mb"],
        "steal_s": sum(detail["host"]["steal_s"]),
        "calib_ms": stats.median(detail["host"]["calib_ms"]),
        "per_statement_s": detail["per_statement_s"],
    }


def summarize(runs: list[dict]) -> dict:
    metrics = sorted(runs[0]["metrics"])
    return {
        "metrics": {m: stats.summary([r["metrics"][m] for r in runs]) for m in metrics},
        "unbounded": {
            m: stats.summary([r[m] for r in runs]) for m in ("first_pass_s", "peak_rss_mb")
        },
        "host": {
            "steal_s": stats.summary([r["steal_s"] for r in runs]),
            "calib_ms": stats.summary([r["calib_ms"] for r in runs]),
        },
        "run_wall_s": stats.summary([r["run_wall_s"] for r in runs]),
        "runs": runs,
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--label", required=True)
    args = ap.parse_args()
    seconds = spec["run_seconds"]

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    try:
        with open(RECORD) as f:
            record = json.load(f)
    except FileNotFoundError:
        record = {"host": "", "sets": {}}
    out = {}
    for w in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = one_run(w, args.first_seed + i, seconds)
            runs.append(r)
            print(f"{w} seed {r['seed']}: " + " ".join(
                f"{k}={v:.4g}" for k, v in r["metrics"].items())
                + f" steal={r['steal_s']:.2f} calib={r['calib_ms']:.1f} "
                f"wall={r['run_wall_s']:.0f}", flush=True)
        out[w] = summarize(runs)
        for m, s in out[w]["metrics"].items():
            flag = "" if s["iqr_share"] <= bounds[m] / 3 else "  <-- over bound/3"
            print(f"  {m}: median {s['median']:.4g} iqr/median {s['iqr_share']:.3f}{flag}")
    out["seconds"] = seconds
    out["finished"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    record["sets"].setdefault(args.label, {}).update(out)
    with open(RECORD, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")

    labels = list(record["sets"])
    if len(labels) > 1:
        base = record["sets"][labels[0]]
        for lab in labels[1:]:
            for w, s in record["sets"][lab].items():
                if not isinstance(s, dict) or "metrics" not in s or w not in base:
                    continue
                for m, v in s["metrics"].items():
                    ref = base[w]["metrics"].get(m)
                    if ref and m in bounds:
                        drift = v["median"] / ref["median"] - 1
                        print(f"{lab} vs {labels[0]} {w} {m}: median drift {drift:+.3f} "
                              f"(bound {bounds[m]})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
