"""One measured Spark driver process. ``run.py`` starts it fresh for every
sample; it writes one JSON result file and exits.

Modes:
- ``setup``: start the session and load the registry, record the time since
  spawn, and end.
- ``run``: set up, then run the output-check pass (the first warm-up pass),
  the remaining warm-up passes and the measured passes. With ``--trace 1``
  the measured passes alternate between untraced ones and traced ones, where
  every query call gets its own job group and phase timers; the event log
  (switched on by ``run.py`` through ``PYSPARK_SUBMIT_ARGS``) is parsed after
  the session stops.

The engine is observed only from outside: ``session.get_spark``,
``registry.load_all``, each registered query function, planning of the
DataFrame it returns and the final action.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from workloads import WORKLOADS, WRITE_MODULES  # noqa: E402

PKG = "shadowcat_data_spark."


def module_of(spec) -> str:
    mod = spec.fn.__module__
    return mod[len(PKG):] if mod.startswith(PKG) else mod


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            try:
                total += os.stat(os.path.join(dirpath, fn)).st_size
            except OSError:  # removed while we walked
                pass
    return total


def table_dirs(tmp: str) -> list[str]:
    """Table directories the engine's writers create:
    ``$TMPDIR/shadowcat_<store>/<fixture tag>/<table>``."""
    out = []
    for store in os.listdir(tmp):
        if not store.startswith("shadowcat_"):
            continue
        for tag in os.listdir(os.path.join(tmp, store)):
            tag_dir = os.path.join(tmp, store, tag)
            if os.path.isdir(tag_dir):
                out.extend(os.path.join(tag_dir, t) for t in os.listdir(tag_dir))
    return out


class Driver:
    def __init__(self, spark, specs, sf_dir: str) -> None:
        self.spark = spark
        self.specs = specs
        self.sf_dir = sf_dir
        self.pid = os.getpid()
        self.peak = procfs.PeakTracker(self.pid)
        self.rows: dict[str, set[int]] = {}
        self.calls: list[dict] = []  # traced query calls
        self.attempted = 0
        self.errors: dict[str, str] = {}  # query -> first exception seen
        self.failed_calls: dict[str, int] = {}
        self.owner: dict[str, str] = {}  # table directory -> module that wrote it

    def call(self, name: str, group: str | None) -> None:
        """One query call ending in a noop sink. With a job group, the call
        is traced: phase timers, job and stage counts, bytes left on disk."""
        from pyspark.sql import Observation, functions as F

        spec = self.specs[name]
        sc = self.spark.sparkContext
        obs = None
        if group is not None:
            sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            df = spec.fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if group is not None:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            if spec.oracle is None:  # rows-only: the count must repeat
                obs = Observation(f"rows_{name}")
                df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        finally:
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self.claim_tables(name)
        if obs is not None:
            self.rows.setdefault(name, set()).add(int(obs.get["n"]))
        if group is None:
            return
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages += len(info.stageIds) if info is not None else 0
        self.calls.append(
            {
                "group": group,
                "query": name,
                "module": module_of(spec),
                "construct_s": t1 - t0,
                "plan_s": t2 - t1,
                "execute_s": t3 - t2,
                "jobs": len(jobs),
                "stages": stages,
            }
        )

    def claim_tables(self, name: str) -> None:
        """Table directories that first appear after a call belong to the
        module of the query that made it."""
        for d in table_dirs(os.environ["TMPDIR"]):
            self.owner.setdefault(d, module_of(self.specs[name]))

    def one_pass(self, queries, tag: str | None) -> dict:
        """One pass over ``queries``; traced when ``tag`` names it."""
        cpu0 = procfs.tree_cpu_s(self.pid)
        steal0 = procfs.steal_s()
        w0 = time.perf_counter()
        for name in queries:
            group = f"{tag}:{name}" if tag is not None else None
            self.attempted += 1
            try:
                self.call(name, group)
            except Exception as exc:  # one broken query must not end the run
                self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
                self.failed_calls[name] = self.failed_calls.get(name, 0) + 1
        wall = time.perf_counter() - w0
        cpu = procfs.tree_cpu_s(self.pid) - cpu0
        self.peak.observe()
        out = {"wall_s": wall, "cpu_s": cpu, "steal_s": procfs.steal_s() - steal0}
        if tag is not None:  # bytes each write module's tables hold after the pass
            stored: dict[str, int] = {}
            for d, mod in self.owner.items():
                if mod in WRITE_MODULES:
                    stored[mod] = stored.get(mod, 0) + dir_bytes(d)
            out["stored_bytes"] = stored
        return out

    def check_pass(self, queries) -> tuple[dict, dict[str, str]]:
        """The first warm-up pass: every query's output is compared with its
        DuckDB oracle instead of going to the noop sink. Returns the pass
        timing and the failures by query."""
        import duckdb
        from shadowcat_data_spark.compare import register_views, run_compare

        bad: dict[str, str] = {}
        cpu0 = procfs.tree_cpu_s(self.pid)
        steal0 = procfs.steal_s()
        w0 = time.perf_counter()
        con = duckdb.connect()
        try:
            register_views(con, self.sf_dir)
            for name in queries:
                spec = self.specs[name]
                self.attempted += 1
                try:
                    if spec.oracle is None:
                        self.call(name, None)
                        continue
                    res = run_compare(name, self.spark, con, self.sf_dir, spec.fn, spec.oracle)
                    self.claim_tables(name)
                    if not res.ok:
                        bad[name] = res.detail[:300]
                except Exception as exc:  # a broken query is a failed check
                    bad[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            con.close()
        timing = {
            "wall_s": time.perf_counter() - w0,
            "cpu_s": procfs.tree_cpu_s(self.pid) - cpu0,
            "steal_s": procfs.steal_s() - steal0,
        }
        self.peak.observe()
        return timing, bad

    def row_count_failures(self, queries) -> dict[str, str]:
        """Rows-only queries must return the same row count on every pass."""
        bad = {}
        for name in queries:
            counts = self.rows.get(name)
            if self.specs[name].oracle is None and (counts is None or len(counts) != 1):
                bad[name] = f"row counts across passes: {sorted(counts or ())}"
        return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("setup", "run"), required=True)
    ap.add_argument("--spawned", type=float, required=True, help="parent's time.monotonic() at spawn")
    ap.add_argument("--repo", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--warmup", type=int, default=None)
    ap.add_argument("--min-passes", type=int, default=3)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    from shadowcat_data_spark import registry, session

    t1 = time.perf_counter()
    spark = session.get_spark("perfbench")
    t2 = time.perf_counter()
    specs = registry.load_all()
    t3 = time.perf_counter()
    out = {
        "setup_s": time.monotonic() - args.spawned,
        "get_spark_s": t2 - t1,
        "load_all_s": t3 - t2,
    }
    if args.mode == "run":
        out.update(run(spark, specs, args))
    if args.trace:
        import eventlog

        spark.stop()  # flushes the event log
        out["tasks"] = eventlog.group_totals(os.environ["PERFBENCH_EVENTLOG_DIR"])
    with open(args.out + ".part", "w") as fh:
        json.dump(out, fh)
    os.replace(args.out + ".part", args.out)
    if not args.trace:
        # Nothing is left to flush: end the JVM and Python workers at once
        # instead of paying a graceful shutdown in every sample.
        os.killpg(os.getpgrp(), signal.SIGKILL)
    return 0


def run(spark, specs, args) -> dict:
    wl = WORKLOADS[args.workload]
    missing = [q for q in wl.queries if q not in specs]
    if missing:
        raise SystemExit(f"queries not in the registry: {missing}")
    drv = Driver(spark, specs, args.sf_dir)
    first, bad = drv.check_pass(wl.queries)
    warm = [first]
    n_warm = wl.warmup_passes if args.warmup is None else args.warmup
    for _ in range(1, n_warm):
        warm.append(drv.one_pass(wl.queries, None))
    # Measured passes. A traced process alternates untraced and traced
    # passes, so the tracing overhead is measured in one JVM at one warmth.
    measured, traced = [], []
    t_end = time.perf_counter() + args.seconds
    while (
        len(measured) < args.min_passes
        or (args.trace and len(traced) < args.min_passes)
        or time.perf_counter() < t_end
    ):
        if args.trace and len(traced) < len(measured):
            traced.append(drv.one_pass(wl.queries, f"m{len(traced)}"))
        else:
            measured.append(drv.one_pass(wl.queries, None))
    bad.update(drv.row_count_failures(wl.queries))
    return {
        "warmup": warm,
        "passes": measured,
        "traced_passes": traced,
        "peak_rss_mb": drv.peak.peak_mb(),
        "check_failures": bad,
        "calls": drv.calls,
        "attempted": drv.attempted,
        "failed_calls": drv.failed_calls,
        "errors": drv.errors,
        "queries": list(wl.queries),
    }


if __name__ == "__main__":
    sys.exit(main())
