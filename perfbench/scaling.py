"""Same-host scaling reference for the ``backfill_resume`` workload.

    python3 perfbench/scaling.py [--seed 7] [--seconds 10]

Runs ``perfbench/run.py --workload backfill_resume`` at ``local[1]`` and at
``local[<cores>]`` with one seed, so both read the same generated
parquet (same rows, same file count), and writes the two throughputs and
the parallel efficiency ``speedup / cores`` to ``perfbench/scaling.json``.
A reference only: no gate reads it, and it is not comparable with runs
taken on other hosts or at other core counts.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _backfill(cpus: int, seed: int, seconds: float) -> dict:
    subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", "backfill_resume", "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "0", "--cpus", str(cpus),
        ],
        check=True,
        stdout=subprocess.DEVNULL,
    )
    path = os.path.join(REPO, ".perfbench", "traces", f"backfill_resume-seed{seed}-trace0.json")
    with open(path) as f:
        record = json.load(f)
    return {
        "cpus": cpus,
        "turns": record["derived"]["turns"][0],
        "turns_per_s": record["derived"]["turns_per_s"][0],
        "pass_s": [p["wall_s"] for p in record["passes"]],
        "loadavg_before": record["loadavg_before"],
        "loadavg_after": record["loadavg_after"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    cores = len(os.sched_getaffinity(0))
    one = _backfill(1, args.seed, args.seconds)
    many = _backfill(cores, args.seed, args.seconds)
    speedup = many["turns_per_s"] / one["turns_per_s"]
    out = {
        "workload": "backfill_resume",
        "seed": args.seed,
        "host_cores": cores,
        "runs": [one, many],
        "speedup": speedup,
        "efficiency": speedup / cores,
    }
    with open(os.path.join(HERE, "scaling.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps({"speedup": speedup, "efficiency": speedup / cores}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
