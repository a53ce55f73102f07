"""The streaming layer, measured in batch_uniform's traced run: an open
loop of files moved into the source directory of

    stream_transcripts → forward_fill_stateful → fan_out →
    with_send_outcome → foreachBatch parquet (with a checkpoint)

A file's latency runs from its atomic move into the source directory to
the return of the foreachBatch that committed it.
"""

from __future__ import annotations

import json
import os
import threading
import time

from apm_opentelemetry_collector_spark.operators.forward_fill import forward_fill
from apm_opentelemetry_collector_spark.operators.route import fan_out, with_send_outcome
from apm_opentelemetry_collector_spark.sources import fixtures
from apm_opentelemetry_collector_spark.sources.transcripts import TRANSCRIPT_SCHEMA
from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
    forward_fill_stateful,
    stream_transcripts,
)

import gen
from harness import median, tail

# below the drain capacity: a micro-batch takes about as long for 1 file
# as for 64, so the query keeps up with any rate of small files
ROWS_PER_FILE = 500
FILES_PER_S = 10.0
WARM_FILES = 4


def stream_layer(spark, work, seed: int, seconds: float):
    """WARM_FILES drained at once, then FILES_PER_S files of ROWS_PER_FILE
    turns for `seconds` in open loop. Returns the layer's figures, the
    routed output, and what it must equal: the same operators run as one
    batch query over all the files."""
    n_files = WARM_FILES + max(11, round(FILES_PER_S * seconds))
    stage = work.fresh("stage")
    paths = gen.stream_files(spark, stage, ROWS_PER_FILE * n_files, n_files, seed)
    q = OpenLoopQuery(spark, work.fresh("stream"), paths)
    q.drain(WARM_FILES)
    stats = q.open_loop(FILES_PER_S)
    allf = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(stage)
    want = with_send_outcome(fan_out(forward_fill(allf), fixtures.routes_df(spark)))
    return stats, spark.read.parquet(q.out), want


class OpenLoopQuery:
    """The streaming query over a private source directory, with the
    files to move into it linked into a pending directory."""

    def __init__(self, spark, run_dir: str, paths: list[str]):
        self.src, self.pending, self.out, self.ckpt = (
            os.path.join(run_dir, d) for d in ("src", "pending", "out", "ckpt")
        )
        os.makedirs(self.src)
        os.makedirs(self.pending)
        for p in paths:  # hard links: moving them leaves the stage intact
            os.link(p, os.path.join(self.pending, os.path.basename(p)))
        self.names = [os.path.basename(p) for p in paths]
        self.n_moved = 0
        self.moved: dict[str, float] = {}
        self.commits: dict[int, float] = {}
        self.sink_s: list[float] = []
        routed = with_send_outcome(
            fan_out(
                forward_fill_stateful(
                    stream_transcripts(spark, self.src, max_files_per_trigger=10_000)
                ),
                fixtures.routes_df(spark),
            )
        ).select("sink", "conv_id", "turn_idx", "outcome")
        self.q = (
            routed.writeStream.foreachBatch(self._write_batch)
            .option("checkpointLocation", self.ckpt)
            .start()
        )

    def _write_batch(self, df, batch_id: int) -> None:
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(f"{self.out}/epoch={batch_id}")
        t1 = time.perf_counter()
        self.sink_s.append(t1 - t0)
        self.commits[batch_id] = t1

    def _move(self, name: str) -> None:
        os.rename(os.path.join(self.pending, name), os.path.join(self.src, name))
        self.moved[name] = time.perf_counter()

    def drain(self, n: int) -> None:
        """Move the next n files at once and wait until they are committed."""
        for name in self.names[self.n_moved:self.n_moved + n]:
            self._move(name)
        self.n_moved += n
        self.q.processAllAvailable()

    def open_loop(self, files_per_s: float) -> dict:
        """Move the remaining files on schedule from one thread, wait for
        the last commit and stop the query; the layer's figures."""
        timed = self.names[self.n_moved:]
        start = time.perf_counter() + 0.05
        due = {n: start + i / files_per_s for i, n in enumerate(timed)}

        def mover():
            for n in timed:
                delay = due[n] - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self._move(n)

        t = threading.Thread(target=mover, name="open-loop-mover")
        try:
            t.start()
            t.join()
            self.q.processAllAvailable()
            progress = self.q.recentProgress
        finally:
            t.join()
            self.q.stop()
        batch_of = source_batches(self.ckpt)
        done = {n: self.commits[batch_of[n]] for n in timed}
        latencies = [done[n] - self.moved[n] for n in timed]
        batches = {batch_of[n] for n in timed}
        backlog = peak = 0
        for _, d in sorted([(self.moved[n], 1) for n in timed] + [(done[n], -1) for n in timed]):
            backlog += d
            peak = max(peak, backlog)
        busy = [
            p.durationMs["triggerExecution"] / 1000.0
            for p in progress if p.batchId in batches
        ]
        state = progress[-1].stateOperators[0]
        return {
            "streaming.latency_p50_s": median(latencies),
            "streaming.latency_tail_s": tail(latencies),
            "streaming.batch_s_p50": median(busy),
            "streaming.batch_s_max": max(busy),
            "streaming.files_per_batch": len(timed) / len(batches),
            "streaming.state_rows": state.numRowsTotal,
            "streaming.state_mb": state.memoryUsedBytes / 1e6,
            "streaming.sink_write_s": median(self.sink_s[-len(batches):]),
            "streaming.generator_lag_s": max(self.moved[n] - due[n] for n in timed),
            "streaming.backlog_files_max": peak,
        }


def source_batches(ckpt: str) -> dict[str, int]:
    """Input file name → micro-batch id, from the file source's log."""
    d = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out
