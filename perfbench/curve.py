"""Per-pass warm-up curve, the evidence behind each workload's warm-up count.

    python3 perfbench/curve.py --workload analytics --passes 14 --seed 1

Runs the workload's passes back to back in one fresh driver process (the
first is the output-check pass, as in a benchmark run) and writes the wall
and CPU time of every pass to ``perfbench/curves/<workload>-seed<seed>.json``.
It also reports, for each candidate warm-up count k, how far the median of
passes k+1.. and pass k sit from the plateau, taken as the median of the
last half of the passes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--passes", type=int, default=14)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    run.become_subreaper()
    runner = run.Runner(args.workload, args.seed, 0)
    runner.deadline += 600  # a curve is longer than one benchmark run
    try:
        import datagen

        datagen.write(runner.sf_dir, args.seed, run.SF)
        res = runner.worker(
            "run", extra=("--warmup", str(args.passes), "--seconds", "0", "--min-passes", "0")
        )
    finally:
        runner.close()
    passes = res["warmup"]
    wall = [p["wall_s"] for p in passes]
    cpu = [p["cpu_s"] for p in passes]
    tail = len(passes) // 2
    plateau = {"wall_s": statistics.median(wall[tail:]), "cpu_s": statistics.median(cpu[tail:])}
    excess = {
        k: {m: round(v[k - 1] / plateau[m] - 1, 4) for m, v in (("wall_s", wall), ("cpu_s", cpu))}
        for k in range(1, len(passes) + 1)
    }
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": run.SF,
        "java_opts": run.JAVA_OPTS,
        "cpus": runner.cpus,
        "pass_wall_s": wall,
        "pass_cpu_s": cpu,
        "pass_steal_s": [p["steal_s"] for p in passes],
        "plateau_median_of_last_half": plateau,
        "pass_excess_over_plateau": excess,
        "warmup_passes_in_use": run.WORKLOADS[args.workload].warmup_passes,
    }
    os.makedirs(os.path.join(HERE, "curves"), exist_ok=True)
    path = os.path.join(HERE, "curves", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    for k in range(len(passes)):
        print(f"pass {k + 1:2d}  wall {wall[k]:7.2f} s  cpu {cpu[k]:7.2f} s  "
              f"excess wall {excess[k + 1]['wall_s']:+.3f} cpu {excess[k + 1]['cpu_s']:+.3f}")
    print(path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
