#!/usr/bin/env python3
"""Same-host benchmark of the transcript pipeline.

    python3 perfbench/run.py --workload batch_uniform --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Generates the workload's input from the
seed, sets up (JVM and session start, input generation, one warm-up),
repeats the workload's operation for --seconds, checks every output and
prints, as its last stdout line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports BENCHMARK.json's end_to_end metrics; --trace 1 runs
the per-layer attribution (event log, job groups, prefix cuts) and
reports its per_layer metrics. The lines before the last give the host
facts and the details (sample count, tail percentile, input parameters);
progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "apm_opentelemetry_collector_spark"
WORKLOAD_NAMES = ("batch_uniform", "batch_resume_skew")

# input generation is repeated this often in set-up and its median kept
GEN_REPS = 3
# a traced run starts its optional parts (streaming layer, one-core
# pass) only before this many seconds, so a slow host still ends in time
TRACE_OPTIONAL_BEFORE_S = 130

_T0 = time.perf_counter()


def phase(what: str) -> None:
    """Progress on stderr, with the seconds since start."""
    print(f"perfbench: {what} at {time.perf_counter() - _T0:.1f} s", file=sys.stderr)


class Ctx:
    """What a workload needs from the run."""

    def __init__(self, work, sess, seed, seconds, cores, result):
        self.work, self.sess, self.seed = work, sess, seed
        self.seconds, self.cores, self.result = seconds, cores, result
        # traced-run parts left out for lack of time
        self.skipped: list[str] = []


def setup(wl, ctx) -> float:
    """Session start, GEN_REPS input generations, one warm-up; returns
    set-up seconds with the median generation."""
    from harness import median

    t0 = time.perf_counter()
    ctx.sess.start(ctx.cores)
    session_s = time.perf_counter() - t0
    gen_s = []
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    phase(f"set-up done (session {session_s:.1f} s, generation "
          f"{', '.join(f'{g:.1f}' for g in gen_s)} s, warm-up {warm_s:.1f} s)")
    return session_s + median(gen_s) + warm_s


def check_recorded(wl, ctx) -> None:
    """Compare the output summary with the one recorded for this seed."""
    with open(os.path.join(HERE, "expected.json")) as f:
        rec = json.load(f).get(wl.name, {})
    want = rec.get("seeds", {}).get(str(ctx.seed))
    if want is not None and rec.get("params") == wl.params():
        ctx.result.check(
            wl.reference == want, f"output {wl.reference} != recorded {want}"
        )


def untraced(wl, ctx) -> dict:
    setup_s = setup(wl, ctx)
    deadline = time.perf_counter() + ctx.seconds
    n = 0
    while n < wl.min_ops or time.perf_counter() < deadline:
        wl.op()
        n += 1
    phase(f"{n} operations done")
    check_recorded(wl, ctx)
    return {**wl.e2e(), "setup_s": setup_s}


def traced(wl, ctx) -> dict:
    """Prefix cuts and one traced operation in a session with the event
    log, the same operation untraced in a fresh session on the same JVM,
    and, with the workload's extra layers, the streaming layer and one
    operation at one core."""
    from harness import peak_rss_mb
    from layers import EventLog, Tracer

    sess = ctx.sess
    sess.start(ctx.cores, event_log=True)
    wl.generate()
    wl.warm()
    phase("set-up done")
    tr = Tracer(sess.spark)
    m, cuts = wl.trace(tr)
    phase("cuts done")
    # the operation is the job runner's run_job: the plans.job layer
    with tr.layer("plans.job"):
        wl.op()
    t_traced = wl.op_seconds()[0]
    m.update(wl.stats)
    sess.stop()
    wl.trace_events(EventLog(ctx.work.sub("eventlog")), tr, m, cuts)
    phase("traced operation done")

    sess.start(ctx.cores)
    wl.reset()
    wl.op()
    t_plain = wl.op_seconds()[0]
    m["trace_overhead_frac"] = t_traced / t_plain - 1.0
    m["trace_cut_share"] = sum(m[f"{name}.self_s"] for name, _, _ in cuts) / t_plain
    phase("untraced operation done")

    def in_time(part: str) -> bool:
        if time.perf_counter() - _T0 < TRACE_OPTIONAL_BEFORE_S:
            return True
        ctx.skipped.append(part)
        return False

    if wl.extra_layers and in_time("streaming"):
        m.update(wl.trace_stream())
        phase("streaming layer done")
    if wl.extra_layers and in_time("parallel_efficiency"):
        sess.stop()
        sess.start(1)
        wl.reset()
        wl.op()
        m["parallel_efficiency"] = wl.times[0] / (ctx.cores * t_plain)
        phase("one-core operation done")
    m["peak_rss_mb"] = peak_rss_mb(sess)
    check_recorded(wl, ctx)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    sys.path.insert(0, ROOT)

    from harness import Result, Session, Workdir, core_count, host_facts, tail_percentile
    from workloads import WORKLOADS

    facts = host_facts()
    work = Workdir(args.workload)
    sess = Session(work)
    result = Result()
    ctx = Ctx(work, sess, args.seed, args.seconds, core_count(), result)
    try:
        wl = WORKLOADS[args.workload](ctx)
        m = traced(wl, ctx) if args.trace else untraced(wl, ctx)
        for metric in spec:
            # a layer this workload does not run reads 0
            result.put(metric["name"], m.get(metric["name"], 0.0), metric["unit"])
        facts["spark_version"] = sess.spark.version
        print(json.dumps({"host": facts}))
        print(json.dumps({
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "params": wl.params(), "samples": len(wl.times),
            "tail_percentile": tail_percentile(len(wl.times)),
            "skipped": ctx.skipped, "errors": result.errors[:5],
        }))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        sess.shutdown()
        work.remove()
    print(result.line(), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
