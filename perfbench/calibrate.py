"""Measure what one round of the dw_stream apps costs per second of traffic.

    python3 perfbench/calibrate.py --slots 1,8 --reps 3

Run from the repository root. After ``--warm`` rounds of one slot each
(the first is the cold one, and the JVM keeps compiling over the next few),
every round releases ``k`` release slots of the default ``StreamParams``
traffic at once (``k`` taken in turn from ``--slots``) and runs one
availableNow tick of all seven apps concurrently, as a dw_stream tick does.
The round time grows with the slots it takes; the least-squares slope is
the seconds of round time one more slot costs (``slot_cost_s``). A tick
that takes everything since the last one keeps up while that is below the
release interval, so ``interval / slot_cost_s`` is how many times the
default rates the apps could absorb. ``perfbench/README.md`` records the
readings the default rates were set from.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--slots", default="1,8")
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--warm", type=int, default=2)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    plan = [int(k) for k in args.slots.split(",")] * args.reps
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    work = os.path.join(ROOT, ".bench_work", f"calibrate-{os.getpid()}")
    from perfbench import run

    run._pin_env(work)
    from perfbench import common, dw_stream, gen

    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    spark = run._session(work, event_log=False)
    try:
        run._warm(spark)
        interval = gen.StreamParams().file_interval_s
        wl = dw_stream.DwStream(args.seed,
                                (args.warm + sum(plan)) * interval)
        wl.generate(os.path.join(work, "inputs"))
        d = wl._dirs(os.path.join(work, "run"))
        rec = {"runs": [], "errors": [], "dim_gens": {}}
        off = common.Tracer(False)
        slot, rounds = 0, []
        for k in [1] * args.warm + plan:
            for _ in range(k):
                for f in wl.inputs.files:
                    if f"-{slot:05d}." in f.name:
                        with open(os.path.join(d["in"], f.stream, f.name),
                                  "wb") as fh:
                            fh.write(f.payload)
                slot += 1
            t0 = time.time()
            threads = [threading.Thread(target=wl._run_app,
                                        args=(spark, a, d, off, None, rec))
                       for a in dw_stream.APPS]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            rounds.append((k, time.time() - t0))
            print(json.dumps({"slots": k, "round_s": round(rounds[-1][1], 3)}),
                  file=sys.stderr, flush=True)
        if rec["errors"] or not all(r["ok"] for r in rec["runs"]):
            print(json.dumps({"errors": rec["errors"]}))
            return 1
        warm = rounds[args.warm:]
        cost = common.slope([k for k, _ in warm], [s for _, s in warm])
        print(json.dumps({
            "warm_rounds_s": [round(s, 3) for _, s in rounds[:args.warm]],
            "rounds": [[k, round(s, 3)] for k, s in warm],
            "slot_cost_s": round(cost, 4),
            "capacity_x_default_rates": round(interval / cost, 2)
            if cost > 0 else None,
        }))
    finally:
        spark.stop()
        run._stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
