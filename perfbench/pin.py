"""Add output digests to pins.json for seeds that have none.

    python3 perfbench/pin.py --workload reverse_knn --seeds 0-63 [--size bench]

Seeds here are input seeds, 0 to run.INPUT_SETS - 1; a benchmark run with
``--seed N`` uses input seed ``N % run.INPUT_SETS``.

Run from the repository root, on a commit whose outputs are known good. For
each seed without a pin it generates the inputs, sets up, runs one pass
whose outputs must pass the workload's independent checks (brute force,
planted pairs) and a second pass whose digests must repeat the first, and
only then records the digests. One Spark session serves every seed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402


def seed_list(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["reverse_knn", "dedup_docs"])
    p.add_argument("--seeds", required=True, help="e.g. 0-63 or 1,3,5-9")
    p.add_argument("--size", choices=["bench", "tiny"], default="bench")
    args = p.parse_args(argv)
    seeds = seed_list(args.seeds)
    if not all(0 <= s < run.INPUT_SETS for s in seeds):
        p.error(f"input seeds run from 0 to {run.INPUT_SETS - 1}")
    run.prepare_environment()
    from perfbench import gen
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    off = Tracer(False)
    bad = 0
    spark = run.start_spark("perfbench-pin")
    try:
        for seed in seeds:
            key = run.pin_key(args.workload, seed, args.size)
            if key in run.load_pins():
                continue
            inputs = gen.input_dir(os.path.join(run.WORK, "inputs"), args.workload,
                                   seed, args.size)
            wl = WORKLOADS[args.workload](inputs, run.cores())
            st = wl.setup(spark, off)
            outs = wl.run_pass(spark, st, off, keep=True)
            fails, _ = wl.check(spark, st, outs)
            first = {k: v["digest"] for k, v in outs.items()}
            again = {k: v["digest"] for k, v in wl.run_pass(spark, st, off).items()}
            if again != first:
                fails.append(f"digests did not repeat: {first} then {again}")
            spark.catalog.clearCache()
            if fails:
                bad += 1
                print(f"{key}: NOT pinned: {fails}", file=sys.stderr)
                continue
            pins = run.load_pins()
            pins[key] = first
            with open(run.PINS, "w") as fp:
                fp.write(json.dumps(pins, indent=1, sort_keys=True) + "\n")
            print(f"{key}: pinned {first}", flush=True)
    finally:
        run.stop_spark(spark, final=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
