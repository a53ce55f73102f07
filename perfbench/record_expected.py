#!/usr/bin/env python3
"""Record each workload's output summary for a range of seeds into
perfbench/expected.json, which run.py checks every run against.

    python3 perfbench/record_expected.py --seeds 0-31

Re-record only when a change to the program is meant to change its
output, or when a workload's input parameters change (a recording made
with other parameters is ignored).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from run import HERE, ROOT, WORKLOAD_NAMES, Ctx


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="a range such as 0-31")
    args = ap.parse_args()
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    sys.path.insert(0, ROOT)
    from harness import Result, Session, Workdir, core_count
    from workloads import WORKLOADS

    # the stream's file count follows the run length
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    work = Workdir("record")
    sess = Session(work)
    try:
        sess.start(core_count())
        for name in WORKLOAD_NAMES:
            for seed in seeds:
                wl = WORKLOADS[name](Ctx(work, sess, seed, seconds, core_count(), Result()))
                entry = expected.setdefault(name, {"params": wl.params(), "seeds": {}})
                if entry["params"] != wl.params():
                    entry.update(params=wl.params(), seeds={})
                wl.generate()
                entry["seeds"][str(seed)] = wl.record()
                print(name, seed, entry["seeds"][str(seed)], flush=True)
                with open(path, "w") as f:
                    json.dump(expected, f, indent=1, sort_keys=True)
                    f.write("\n")
    finally:
        sess.shutdown()
        work.remove()
    return 0


if __name__ == "__main__":
    sys.exit(main())
