#!/usr/bin/env python3
"""quackspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload curation-sf0.1 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One driver process, one client: the
statements of a pass run one after another on a Spark ``local[4]``
session, each constructed and then run to a noop sink. A run is

1. set-up, timed from process start: the Spark session comes up and the
   workload's tables are registered. The stated state is a fresh JVM, an
   empty work directory (warehouse, catalog, temp files), and the
   fixtures' derived layout present on disk. A checkout without it gets it
   built first by a child process, whose wall time set-up leaves out. A
   traced run builds its own copy in the work directory instead, so
   ``sources.layout_build_s`` times a cold build. The fixture digests and
   DuckDB's copies of the workload's tables are prepared after set-up is
   taken;
2. the first pass: each statement constructed and collected, timed, then
   its rows checked untimed against the committed checksum or DuckDB;
3. one untimed warm-up pass, run as the timed passes are;
4. timed passes until ``--seconds`` have passed, at least one;
5. the final-state check (``sql-rw-sf0.1``), shutdown, and removal of the
   work directory.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is the run's detail record (per-pass figures, host readings). The exit code
is 0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "fixtures", "sf0.1")
CHECKSUMS = os.path.join(HERE, "checksums.json")
#: the program's own modules resolve from the checkout, never from an
#: installed copy
sys.path[:0] = [HERE, ROOT]

import host  # noqa: E402
import stats  # noqa: E402

CPUS = 4
#: a run stops starting passes after this long, so it ends within the
#: benchmark's 180 s per-run limit even on a slow host
PASS_DEADLINE_S = 130.0

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("query_geomean_s", "s"),
)

#: first_pass_s and peak_rss_mb spread 10-22% between runs on the 4-vCPU
#: host, too wide for an end-to-end bound, so they are reported here
PER_LAYER = (
    ("first_pass_s", "s"),
    ("peak_rss_mb", "MB"),
    ("session.start_s", "s"),
    ("sources.layout_build_s", "s"),
    ("sources.scan_bytes", "bytes"),
    ("queries.construct_s", "s"),
    ("operators.pre_action_jobs", "count"),
    ("operators.pre_action_s", "s"),
    ("plan.analysis_ms", "ms"),
    ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"),
    ("action.s", "s"),
    ("action.jobs", "count"),
    ("action.tasks", "count"),
    ("action.shuffle_bytes", "bytes"),
    ("action.spill_bytes", "bytes"),
    ("sqlfront.transpile_s", "s"),
    ("sqlfront.sql_s", "s"),
    ("ddl.insert_s", "s"),
    ("ddl.update_s", "s"),
    ("ddl.delete_s", "s"),
    ("ddl.upsert_s", "s"),
    ("ddl.write_jobs", "count"),
    ("versioned.commit_s", "s"),
    ("versioned.timetravel_read_s", "s"),
    ("read_s", "s"),
    ("write_s", "s"),
    ("proc.cpu_s", "s"),
    ("proc.gc_s", "s"),
    ("host.steal_s", "s"),
    ("host.calib_ms", "ms"),
    ("trace.pass_s", "s"),
)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def verify_fixtures() -> None:
    with open(os.path.join(HERE, "fixtures", "sf0.1.sha256")) as f:
        for line in f:
            want, name = line.split()
            with open(os.path.join(SF_DIR, name), "rb") as g:
                got = hashlib.sha256(g.read()).hexdigest()
            if got != want:
                raise RuntimeError(f"fixture {name} differs from its recorded sha256")


def prepare_work_dir(workload: str) -> str:
    """Every file Spark, Python workers and the JVM write lands under the
    checkout: warehouse and catalog in the working directory, shuffle and
    temp files in ``SPARK_LOCAL_DIRS`` / ``TMPDIR``."""
    work = os.path.join(HERE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>,
    # from the driver JVM and from spark-submit's launcher JVM
    for var, opts in (("SPARK_SUBMIT_OPTS", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                      ("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")):
        os.environ[var] = " ".join(p for p in (os.environ.get(var), opts) if p)
    os.chdir(work)
    return work


def layout_present() -> bool:
    from quackspark.sources import derived

    return all(
        os.path.isfile(os.path.join(derived.derived_path(SF_DIR, t), "_QS_SPEC.json"))
        for t in derived.SPECS
    )


def build_layout() -> int:
    """Child-process entry: build the fixtures' derived layout and exit."""
    from quackspark.session import get_session, register_testdata_views

    spark = get_session("perfbench-layout", cpus=CPUS)
    try:
        register_testdata_views(spark, SF_DIR)
    finally:
        stop_spark(spark)
    return 0 if layout_present() else 1


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    def __init__(self, spark, workload, tracer, account, tree):
        self.spark, self.w = spark, workload
        self.tracer, self.acct, self.tree = tracer, account, tree
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)
        log(f"FAILED {msg}")

    def housekeeping(self, full_gc: bool) -> None:
        """Outside every timed window: release persisted blocks the last
        statement left behind, and once per pass let the JVM collect, so
        Spark's cleaner reclaims shuffle and broadcast state."""
        jsc = self.spark.sparkContext._jsc
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist()
        if full_gc:
            self.spark._jvm.System.gc()

    def _execute(self, st, collect: bool) -> tuple:
        """Construct one statement and run it to its sink: ``collect`` when
        the output is checked, else ``noop``. Returns the frame, the
        collected rows (or None), the construction and action seconds, and
        (traced) Spark's accounting of each call."""
        acct, tr = self.acct, self.tracer
        acc: dict = {}
        gid = acct.group(f"{st.name}:construct") if acct else None
        t0 = time.perf_counter()
        df = st.build()
        t1 = time.perf_counter()
        if acct:
            tr.record(f"{st.layer}.construct", t0, t1)
            acc["pre"] = acct.jobs(gid)
            acc["phases"] = acct.plan_phases(df)
            gid = acct.group(f"{st.name}:action")
            tr.record("trace.reads", t1, time.perf_counter())
        rows = None
        t2 = time.perf_counter()
        if collect:
            rows = df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        if acct:
            tr.record("action", t2, t3)
            acc["act"] = acct.jobs(gid)
            acct.clear_group()
            tr.record("trace.reads", t3, time.perf_counter())
        return df, rows, t1 - t0, t3 - t2, acc

    def _trace_layers(self, st, action: float, acc: dict, add) -> None:
        pre, act = acc["pre"], acc["act"]
        add("operators.pre_action_jobs", pre["jobs"])
        add("operators.pre_action_s", pre["busy_s"])
        for k, v in acc["phases"].items():
            add(f"plan.{k}_ms", v)
        add("action.s", action)
        add("action.jobs", act["jobs"])
        add("action.tasks", act["tasks"])
        add("action.shuffle_bytes", act["shuffle_bytes"])
        add("action.spill_bytes", act["spill_bytes"])
        add("sources.scan_bytes", pre["input_bytes"] + act["input_bytes"])
        if st.kind == "write":
            add("ddl.write_jobs", pre["jobs"] + act["jobs"])
        if st.layer == "sqlfront" and st.kind == "read":
            from quackspark.sqlfront import transpile

            t0 = time.perf_counter()
            transpile(st.sql, self.spark)
            t1 = time.perf_counter()
            self.tracer.record("sqlfront.transpile", t0, t1)
            add("sqlfront.transpile_s", t1 - t0)

    def run_pass(self, pass_no: int, check: bool) -> dict:
        tr, acct = self.tracer, self.acct
        self.housekeeping(full_gc=True)
        calib = host.calib_ms()
        steal0, cpu0 = host.steal_s(), self.tree.cpu_s()
        stmts = self.w.statements(pass_no)
        rec = {"pass": pass_no, "calib_ms": calib, "stmts": {}, "layer": {}}
        layer: dict[str, float] = rec["layer"]

        def add(key: str, v: float) -> None:
            layer[key] = layer.get(key, 0.0) + v

        pspan = tr.start("pass", pass_no=pass_no) if tr else None
        for st in stmts:
            self.attempted += 1
            sspan = tr.start("statement", stmt=st.name) if tr else None
            t_before = time.perf_counter()
            gc0 = acct.gc_s() if acct else 0.0
            try:
                df, rows, construct, action, acc = self._execute(st, collect=check)
            except Exception as exc:  # a failing statement is counted, not fatal
                if acct:
                    acct.clear_group()
                first = str(exc).splitlines()[0][:300] if str(exc) else ""
                self._fail(f"pass {pass_no} {st.name}: {type(exc).__name__}: {first}")
                df = None
            if acct and df is not None:
                add("proc.gc_s", acct.gc_s() - gc0)
                self._trace_layers(st, action, acc, add)
            t_after = time.perf_counter()
            if st.mirror:
                st.mirror()
            if df is not None:
                wall = construct + action
                rec["stmts"].setdefault(st.name, []).append(wall)
                add("read_s" if st.kind == "read" else "write_s", wall)
                if st.layer == "queries":
                    add("queries.construct_s", construct)
                if st.kind == "read" and st.layer == "sqlfront":
                    add("sqlfront.sql_s", construct)
                if st.op == "timetravel":
                    add("versioned.timetravel_read_s", wall)
                elif st.kind == "write" and st.layer == "ddl":
                    add(f"ddl.{st.op}_s", wall)
                elif st.kind == "write":
                    add("versioned.commit_s", wall)
                if acct:
                    # the statement as the traced run pays for it: its calls
                    # plus the tracer's reads of Spark's accounting
                    add("trace.pass_s", t_after - t_before)
                if check and st.check:
                    try:
                        problem = st.check(df.columns, rows)
                    except Exception as exc:
                        problem = f"{st.name}: check raised {type(exc).__name__}: {exc}"
                    if problem:
                        self._fail(f"pass {pass_no} {problem}")
            self.housekeeping(full_gc=False)
            if tr:
                tr.record("bench.check_and_release", t_after, time.perf_counter())
                tr.end(sspan, failed=df is None)
        if tr:
            tr.end(pspan)
        rec["wall_s"] = sum(sum(v) for v in rec["stmts"].values())
        rec["steal_s"] = host.steal_s() - steal0
        rec["cpu_s"] = self.tree.cpu_s() - cpu0
        layer["host.steal_s"] = rec["steal_s"]
        layer["proc.cpu_s"] = rec["cpu_s"]
        layer["host.calib_ms"] = calib
        return rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-layout", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    t_start = host.process_start_epoch()
    import workloads

    cls = workloads.WORKLOADS.get(args.workload)
    if cls is None:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    with open(CHECKSUMS) as f:
        checksums = json.load(f)
    work = prepare_work_dir(args.workload + ("-layout" if args.build_layout else ""))
    try:
        return run_workload(args, argv, cls, checksums, t_start)
    finally:
        # outside set-up: the next run starts from an empty work directory
        # whatever this one wrote
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run_workload(args, argv, cls, checksums: dict, t_start: float) -> int:
    try:
        from quackspark.session import get_session
    except ImportError as exc:
        log(f"the program is not in this checkout: {exc}")
        return 2
    if args.build_layout:
        return build_layout()
    #: wall time of a layout build made before set-up; set-up excludes it
    child_s = 0.0
    if cls.uses_layout and args.trace:
        from quackspark.sources import derived

        # a cold build into the work directory, which the run removes, so
        # the shared layout untraced runs start from stays as it is
        derived.DERIVED_ROOT = os.path.join(os.getcwd(), "derived")
    elif cls.uses_layout and not layout_present():
        log("building the fixtures' derived layout before set-up")
        c0 = time.perf_counter()
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *(argv or sys.argv[1:]),
                        "--build-layout"], cwd=ROOT, check=True, timeout=600)
        child_s = time.perf_counter() - c0
    tree = host.ProcTree()
    tree.start_sampling()
    t0 = time.perf_counter()
    spark = get_session("perfbench", cpus=CPUS)
    session_start_s = time.perf_counter() - t0
    try:
        w = cls(spark, SF_DIR, args.seed, checksums)
        layout_s = w.setup()
        setup_s = time.time() - t_start - child_s
        log(f"set-up {setup_s:.2f} s (session {session_start_s:.2f} s, "
            f"fixture tables {layout_s:.2f} s)")
        verify_fixtures()
        w.prepare_checks()

        tracer = account = None
        if args.trace:
            from tracing import SparkAccount, Tracer

            tracer, account = Tracer(), SparkAccount(spark)
        r = Runner(spark, w, tracer, account, tree)
        first = r.run_pass(0, check=True)
        log(f"first pass {first['wall_s']:.2f} s")
        # the first pass runs cold and collects; the timed window opens
        # after one more pass run exactly as the timed ones are
        warm = r.run_pass(1, check=False)
        log(f"warm-up pass {warm['wall_s']:.2f} s")
        timed = []
        w0 = time.perf_counter()
        while True:
            timed.append(r.run_pass(len(timed) + 2, check=False))
            log(f"pass {len(timed)} {timed[-1]['wall_s']:.2f} s "
                f"(steal {timed[-1]['steal_s']:.2f} s, calib {timed[-1]['calib_ms']:.1f} ms)")
            if time.perf_counter() - w0 >= args.seconds:
                break
            if time.time() - t_start > PASS_DEADLINE_S:
                log("pass deadline reached; ending the timed window early")
                break
        for problem in w.final_checks().values():
            r.attempted += 1
            if problem:
                r._fail(problem)
        w.close()
    finally:
        tree.stop_sampling()
        stop_spark(spark)

    names = sorted({n for p in timed for n in p["stmts"]})
    per_stmt = {n: stats.median([w for p in timed for w in p["stmts"].get(n, [])])
                for n in names}
    e2e = {
        "setup_s": setup_s,
        "pass_s": stats.median([p["wall_s"] for p in timed]),
        "query_geomean_s": stats.geomean(list(per_stmt.values())),
    }
    layer = {
        "first_pass_s": first["wall_s"],
        "peak_rss_mb": tree.peak_rss_bytes / 2**20,
        "session.start_s": session_start_s,
        "sources.layout_build_s": layout_s,
    }
    for name, _unit in PER_LAYER:
        if name not in layer:
            vals = [p["layer"].get(name, 0.0) for p in timed]
            layer[name] = stats.median(vals)
    detail = {
        "detail": {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "passes": len(timed),
            "end_to_end": e2e,
            "first_pass_s": first["wall_s"],
            "peak_rss_mb": layer["peak_rss_mb"],
            "per_statement_s": per_stmt,
            "first_pass_per_statement_s": first["stmts"],
            "warmup_pass_s": warm["wall_s"],
            "pass_wall_s": [p["wall_s"] for p in timed],
            "host": {
                "steal_s": [p["steal_s"] for p in timed],
                "calib_ms": [p["calib_ms"] for p in timed],
                "cpu_s": [p["cpu_s"] for p in timed],
            },
            "error_rate": r.failed / r.attempted,
            "problems": r.problems,
        }
    }
    if tracer:
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.jsonl")
        tracer.write(path, detail["detail"])
        self_s = tracer.self_times()
        detail["detail"]["self_s"] = self_s
        log("self time per span (s): " + ", ".join(
            f"{k} {v:.2f}" for k, v in sorted(self_s.items(), key=lambda kv: -kv[1])))
        log(f"spans written to {os.path.relpath(path, ROOT)}; tracing overhead = "
            f"trace.pass_s {layer['trace.pass_s']:.3f} s minus pass_s of an untraced "
            f"run with the same seed")
    if args.trace:
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    for n, m in metrics.items():
        log(f"{n} = {m['value']:.6g} {m['unit']}")
    log(f"error_rate = {r.failed}/{r.attempted}")
    print(json.dumps(detail))
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0 if r.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
