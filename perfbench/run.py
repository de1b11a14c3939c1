"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Writes seeded fixtures inside the checkout, then runs the workload in fresh
driver processes (``worker.py``), one after another. Each gets its own
``TMPDIR``, ``SPARK_LOCAL_DIRS`` and JVM temp directory, and each starts only
after every process of the one before has exited.

- ``--trace 0``: ``SETUP_SAMPLES - 1`` set-up-only processes, then the
  measured process, whose set-up is the last sample (``setup_s`` is their
  median). The measured process runs the output-check pass, the remaining
  warm-up passes and then passes for ``--seconds`` (at least three). It
  prints the end-to-end metrics.
- ``--trace 1``: one measured process with the Spark event log on. After
  the warm-up it alternates untraced passes with traced ones: a job group
  per query call and phase timers. It prints the per-layer metrics and the
  tracing overhead: traced minus untraced median pass wall time, measured
  in one JVM at the same warmth.

Progress goes to stderr. The last two stdout lines are a run summary and
the result object.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import shlex
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import MODULES, PHASE_UNITS, WORKLOADS, WRITE_MODULES  # noqa: E402

SF = 0.01  # fixture scale factor: 60k lineitem rows, 500 documents
SETUP_SAMPLES = 3
DRIVER_MEM = "2g"
DEADLINE_S = 170.0  # the whole run, fixtures included
# C1-only JIT with lowered compile thresholds: the JVM reaches its compiled
# steady state within the warm-up passes (perfbench/curves/) instead of after
# the ~60 s of work tiered C2 needs, which one run's time budget cannot hold.
# The larger code cache keeps C1 from filling it and switching itself off.
# The serial collector sizes the heap from allocation alone, not from pause
# times, so peak RSS does not move with host load (G1 varied by 15-25%).
JAVA_OPTS = "-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.05 -XX:ReservedCodeCacheSize=256m -XX:+UseSerialGC -Xms2g"
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")


def become_subreaper() -> None:
    """Orphaned descendants (the JVM outlives its Python driver by a moment)
    are re-parented to this process, so ``reap_all`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_all(timeout: float) -> None:
    """Wait until no child of this process is left; kill any past ``timeout``."""
    end = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.monotonic() > end:
                for child in _children():
                    try:
                        os.kill(child, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)


def _children() -> list[int]:
    me = os.getpid()
    with open(f"/proc/{me}/task/{me}/children") as fh:
        return [int(c) for c in fh.read().split()]


class Runner:
    def __init__(self, workload: str, seed: int, seconds: int) -> None:
        self.wl = WORKLOADS[workload]
        self.seconds = seconds
        self.deadline = time.monotonic() + DEADLINE_S
        self.cpus = str(len(os.sched_getaffinity(0)))  # what `nproc` prints
        self.dir = os.path.join(RUNS_DIR, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.sf_dir = os.path.join(self.dir, "data")
        self.n_proc = 0

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:  # another run's directory is still there
            pass

    def worker(self, mode: str, trace: bool = False, extra: tuple[str, ...] = ()) -> dict:
        """Run one fresh driver process and return its result object."""
        self.n_proc += 1
        pdir = os.path.join(self.dir, f"p{self.n_proc}")
        tmp, local, ev = (os.path.join(pdir, d) for d in ("tmp", "local", "eventlog"))
        for d in (tmp, local, ev):
            os.makedirs(d)
        # the JVM's temporary files stay in the run directory as well
        java_opts = f"{JAVA_OPTS} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        submit = [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", java_opts,
        ]
        if trace:
            submit += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{ev}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
            ]
        env = dict(
            os.environ,
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=local,
            SPARK_GRAFT_CPUS=self.cpus,
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            PERFBENCH_EVENTLOG_DIR=ev,
            PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
            PYTHONHASHSEED="0",  # same set and dict order in every process
        )
        out = os.path.join(pdir, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--mode", mode, "--repo", ROOT, "--sf-dir", self.sf_dir, "--out", out,
            "--workload", self.wl.name, "--seconds", str(self.seconds),
            "--trace", str(int(trace)), *extra,
        ]
        with open(os.path.join(pdir, "stderr.log"), "w") as err:
            spawned = time.monotonic()
            proc = subprocess.Popen(
                cmd + ["--spawned", repr(spawned)],
                env=env, stdout=err, stderr=err, cwd=pdir, start_new_session=True,
            )
            try:
                proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            finally:
                reap_all(timeout=max(5.0, self.deadline - time.monotonic()))
        # an untraced worker ends by killing its own process group, so the
        # result file, written last and renamed into place, is the success test
        if not os.path.exists(out):
            with open(os.path.join(pdir, "stderr.log")) as fh:
                tail = fh.read()[-2000:]
            raise RuntimeError(f"{mode} process exited {proc.returncode}:\n{tail}")
        with open(out) as fh:
            res = json.load(fh)
        shutil.rmtree(pdir, ignore_errors=True)
        return res


def outcome(res: dict) -> tuple[int, int]:
    """(attempted, failed) query executions of a measured process. A query
    that fails its output check counts as failed on every execution."""
    per_query = res["attempted"] // len(res["queries"])
    failed = sum(
        per_query if q in res["check_failures"] else res["failed_calls"].get(q, 0)
        for q in res["queries"]
    )
    return res["attempted"], failed


def layer_metrics(res: dict, input_bytes: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced process: each module's per-pass sum,
    median over the traced passes."""
    per_pass: dict[str, dict[str, dict[str, float]]] = {}
    for c in res["calls"]:
        mod = per_pass.setdefault(c["group"].split(":", 1)[0], {}).setdefault(c["module"], {})
        fields = {**c, **res["tasks"].get(c["group"], {})}
        for k in PHASE_UNITS:
            mod[k] = mod.get(k, 0) + fields.get(k, 0)
    traced = res["traced_passes"]
    passes = [per_pass.get(f"m{i}", {}) for i in range(len(traced))]
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (res["get_spark_s"], "s"),
        "registry.load_all_s": (res["load_all_s"], "s"),
    }
    for mod in MODULES:
        for k, unit in PHASE_UNITS.items():
            m[f"{mod}.{k}"] = (statistics.median(p.get(mod, {}).get(k, 0) for p in passes), unit)
    stored = 0.0
    for mod in WRITE_MODULES:
        v = statistics.median(p["stored_bytes"].get(mod, 0) for p in traced)
        m[f"{mod}.stored_bytes"] = (v, "B")
        stored += v
    m["stored_bytes_per_input_byte"] = (stored / input_bytes, "B/B")
    m["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in traced)
        - statistics.median(p["wall_s"] for p in res["passes"]),
        "s",
    )
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "shadowcat_data_spark", "__init__.py")):
        print("perfbench: the shadowcat_data_spark package is not beside perfbench/", file=sys.stderr)
        return 2

    become_subreaper()
    runner = Runner(args.workload, args.seed, args.seconds)
    try:
        return measure(runner, args)
    finally:
        runner.close()


def measure(runner: Runner, args) -> int:
    import datagen

    t0 = time.monotonic()
    fixture_bytes = datagen.write(runner.sf_dir, args.seed, SF)
    input_bytes = sum(
        os.path.getsize(os.path.join(runner.sf_dir, f"{t}.parquet")) for t in runner.wl.inputs
    )
    print(f"[perfbench] fixtures sf{SF} seed {args.seed}: {fixture_bytes} B in "
          f"{time.monotonic() - t0:.1f} s", file=sys.stderr, flush=True)
    # set-up time is an end-to-end metric, so only untraced runs sample it
    setups = [] if args.trace else [runner.worker("setup") for _ in range(SETUP_SAMPLES - 1)]
    main_res = runner.worker("run", trace=bool(args.trace))
    setups.append(main_res)
    attempted, failed = outcome(main_res)
    walls = [p["wall_s"] for p in main_res["passes"]]
    cpus = [p["cpu_s"] for p in main_res["passes"]]
    info = {
        "workload": runner.wl.name,
        "queries": main_res["queries"],
        "sf": SF,
        "input_bytes": input_bytes,
        "cpus": runner.cpus,
        "setup_samples_s": [s["setup_s"] for s in setups],
        "warmup_wall_s": [p["wall_s"] for p in main_res["warmup"]],
        "warmup_cpu_s": [p["cpu_s"] for p in main_res["warmup"]],
        "passes": len(walls),
        "pass_wall_s": walls,
        "pass_cpu_s": cpus,
        "pass_steal_s": [p["steal_s"] for p in main_res["passes"]],
        "max_pass_wall_s": max(walls),
        "errors": main_res["errors"],
        "check_failures": main_res["check_failures"],
    }
    if args.trace:
        metrics = layer_metrics(main_res, input_bytes)
        info["traced_pass_wall_s"] = [p["wall_s"] for p in main_res["traced_passes"]]
        info["counts_repeat_within_run"] = repeats(main_res)
    else:
        metrics = {
            "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
            "wall_s": (statistics.median(walls), "s"),
            "cpu_s": (statistics.median(cpus), "s"),
            "peak_rss_mb": (main_res["peak_rss_mb"], "MB"),
            "ok_frac": ((attempted - failed) / attempted, "ratio"),
        }
    print(json.dumps(info))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def repeats(traced: dict) -> dict[str, dict[str, bool]]:
    """Per query: do its job and stage counts repeat exactly on every
    measured pass of this process?"""
    seen: dict[str, dict[str, set]] = {}
    for c in traced["calls"]:
        s = seen.setdefault(c["query"], {"jobs": set(), "stages": set()})
        s["jobs"].add(c["jobs"])
        s["stages"].add(c["stages"])
    return {q: {k: len(v) == 1 for k, v in s.items()} for q, s in seen.items()}


if __name__ == "__main__":
    sys.exit(main())
