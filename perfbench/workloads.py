"""The workloads. Each generates its input from the seed, warms up
untimed, then repeats a timed operation until the run's time is used,
checking every output. A traced run adds the per-layer cuts.

The operation, whose wall times are the latency samples:
  batch_uniform      one ``run_job`` call (single pass)
  batch_resume_skew  the resume ``run_job`` call after a killed run
"""

from __future__ import annotations

import os
import re
import shutil
import time

from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.config import PipelineConfig
from apm_opentelemetry_collector_spark.functions import sharding
from apm_opentelemetry_collector_spark.functions.parse import with_parsed
from apm_opentelemetry_collector_spark.operators.enrich import enrich
from apm_opentelemetry_collector_spark.operators.forward_fill import forward_fill
from apm_opentelemetry_collector_spark.operators.route import fan_out, with_send_outcome
from apm_opentelemetry_collector_spark.operators.truncate import truncate_oversize
from apm_opentelemetry_collector_spark.operators.validate import split_valid
from apm_opentelemetry_collector_spark.plans.job import (
    read_all_manifests,
    run_job,
    sharding_safe_batches,
)
from apm_opentelemetry_collector_spark.plans.pipeline import run_pipeline
from apm_opentelemetry_collector_spark.sources import fixtures

import gen
from harness import median, tail
from layers import EventLog, Tracer, attribute
from stream import stream_layer

# 32 shards, as the repository's flagship benchmark: packing windows
# parallelize per (sink, shard)
CFG = PipelineConfig(n_shards=32)
# run_job drops these before writing, so Catalyst prunes them (and the
# parse that makes `parsed`) from the job; the cuts drop them too
JOB_DROPS = ("parsed", "hash_key")


def _crc():
    """The job manifests' per-row checksum."""
    return F.crc32(F.concat_ws("|", "conv_id", "turn_idx", "sink", "outcome"))


def digest(df) -> tuple[int, int]:
    """(rows, checksum) of routed rows."""
    r = df.agg(F.count("*").alias("n"), F.sum(_crc()).alias("crc")).first()
    return int(r["n"]), int(r["crc"] or 0)


def manifest_totals(manifests: list[dict]) -> dict:
    by: dict[str, int] = {}
    for m in manifests:
        for k, v in m["by_outcome"].items():
            by[k] = by.get(k, 0) + v
    return {
        "routed_rows": sum(m["routed_rows"] for m in manifests),
        "by_outcome": dict(sorted(by.items())),
        "rejected_rows": sum(m["rejected_rows"] for m in manifests),
        "checksum": sum(m["checksum"] for m in manifests),
    }


def pipeline_prefixes(spark, transcripts, cfg, use_pandas_udf=False):
    """(layer, DataFrame) after each layer, in run_pipeline's order, with
    the job runner's packing last."""
    yield "sources.transcripts", transcripts
    valid, _rejected = split_valid(transcripts, cfg.backpressure_on)
    valid = forward_fill(valid)
    yield "operators.validate", valid
    valid = with_parsed(valid, use_pandas_udf=use_pandas_udf)
    yield "functions.parse", valid
    valid = truncate_oversize(valid, cfg).drop("outcome", "drop_reason")
    yield "operators.truncate", valid
    valid = enrich(valid, fixtures.service_dim_df(spark))
    yield "operators.enrich", valid
    routed = with_send_outcome(fan_out(valid, fixtures.routes_df(spark)), cfg)
    yield "operators.route", routed
    routed = sharding.assign_shard(
        routed, sharding.even_shards(cfg.n_shards), "conv_id", "left"
    )
    yield "functions.sharding", routed
    yield "operators.pack", sharding_safe_batches(routed, cfg)


class BatchUniform:
    """run_job single passes over a uniform transcript table."""

    name = "batch_uniform"
    rows = 100_000
    skew: dict = {}
    n_buckets: int | None = None
    # operations per measured run
    min_ops = 2
    # also measure the layers the uniform input can carry: the parse
    # materialized, both twins (pruned from the job; on 2 MB turns its
    # regexes do not finish), the streaming layer, and one core
    extra_layers = True
    layers = (
        "sources.transcripts", "operators.validate", "functions.parse",
        "operators.truncate", "operators.enrich", "operators.route",
        "functions.sharding", "operators.pack", "plans.job",
    )

    def __init__(self, ctx):
        self.ctx = ctx
        self.times: list[float] = []
        self.reference: dict | None = None
        # per-layer figures the last operation observed itself
        self.stats: dict = {}

    @property
    def spark(self):
        return self.ctx.sess.spark

    def params(self) -> dict:
        return {"rows": self.rows}

    def generate(self) -> None:
        self.inp = self.ctx.work.fresh("input")
        gen.transcripts_table(self.spark, self.inp, self.rows, self.ctx.seed, **self.skew)

    def job(self, out: str, **kw):
        return run_job(
            self.spark, self.spark.read.parquet(self.inp), out, cfg=CFG,
            n_buckets=self.n_buckets, **kw,
        )

    def warm(self) -> None:
        """Two single passes warm the JVM (after one, the first timed pass
        still ran slower); the first fixes the reference output, which
        must agree with what it wrote."""
        out = self.ctx.work.fresh("warm")
        self.job(out)
        ref = self.reference = manifest_totals(read_all_manifests(out))
        routed = self.spark.read.parquet(os.path.join(out, "routed", "all"))
        rejected = self.spark.read.parquet(os.path.join(out, "rejected", "all"))
        self.ctx.result.check(
            digest(routed) == (ref["routed_rows"], ref["checksum"])
            and rejected.count() == ref["rejected_rows"],
            "written output disagrees with its manifest",
        )
        shutil.rmtree(out, ignore_errors=True)
        self.job(out)
        shutil.rmtree(out, ignore_errors=True)

    def record(self) -> dict:
        """The output summary for this seed, as recorded in expected.json."""
        self.warm()
        return self.reference

    def op(self) -> None:
        out = self.ctx.work.fresh("out")
        t0 = time.perf_counter()
        self.job(out)
        self.times.append(time.perf_counter() - t0)
        got = manifest_totals(read_all_manifests(out))
        self.ctx.result.op(got == self.reference, f"job output {got} != {self.reference}")
        shutil.rmtree(out, ignore_errors=True)

    def op_seconds(self) -> list[float]:
        """Wall time of each whole operation."""
        return self.times

    def reset(self) -> None:
        """Forget the samples taken so far."""
        self.times = []

    def e2e(self) -> dict:
        return {
            "input_rows_per_s": self.rows / median(self.op_seconds()),
            "latency_p50_s": median(self.times),
            "latency_tail_s": tail(self.times),
        }

    def trace(self, tr: Tracer) -> tuple[dict, list]:
        """Per-layer figures measured in the traced session, and the
        prefix cuts as (layer, seconds, rows)."""
        spark, m = self.spark, {}
        read = lambda: spark.read.parquet(self.inp)  # noqa: E731
        cuts = []
        for name, df in pipeline_prefixes(spark, read(), CFG):
            secs, rows = tr.cut(name, df.drop(*JOB_DROPS))
            cuts.append((name, secs, rows))
            last = df
        # drift guard: the last cut must be run_pipeline's routed stream
        self.ctx.result.check(
            digest(last) == digest(run_pipeline(spark, read(), CFG).routed),
            "prefix cuts no longer reproduce run_pipeline's routed rows",
        )
        construct, plan = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            res = run_pipeline(spark, read(), CFG)
            t1 = time.perf_counter()
            sharding_safe_batches(res.routed, CFG)._jdf.queryExecution().executedPlan()
            construct.append(t1 - t0)
            plan.append(time.perf_counter() - t1)
        m["plans.pipeline.construct_s"] = median(construct)
        m["plans.pipeline.plan_s"] = median(plan)
        if self.extra_layers:
            validate_s = cuts[1][1]
            for twin, udf in (("expr", False), ("arrow", True)):
                parsed = dict(
                    pipeline_prefixes(spark, read(), CFG, use_pandas_udf=udf)
                )["functions.parse"]
                secs, _ = tr.cut(f"functions.parse.{twin}", parsed)
                m[f"functions.parse.{twin}_self_s"] = secs - validate_s
        return m, cuts

    def trace_stream(self) -> dict:
        """The streaming layer's figures; its output must equal the same
        operators run as a batch query."""
        stats, got, want = stream_layer(
            self.spark, self.ctx.work, self.ctx.seed, self.ctx.seconds
        )
        self.ctx.result.check(
            digest(got) == digest(want),
            "stream output differs from the same operators as a batch query",
        )
        return stats

    def trace_events(self, log: EventLog, tr: Tracer, m: dict, cuts: list) -> None:
        """Per-layer figures from the event log, after the traced
        operation, which ran under the plans.job group."""
        # the job runner's own cost: that operation minus the pack cut
        cuts.append(("plans.job", self.op_seconds()[0], self.reference["routed_rows"]))
        m.update(attribute(log, tr.windows, cuts))
        jobs = log.jobs_by_layer(tr.windows).get("plans.job", [])
        m["plans.job.jobs"] = len(jobs)
        subs = ["all"] if self.n_buckets is None else [
            f"bucket={b}" for b in range(self.n_buckets)
        ]
        spans = []
        for sub in subs:
            pat = re.compile(rf"/(routed|rejected|metrics)/{sub}(?![0-9])")
            s = log.sql_spans(jobs, lambda p, pat=pat: pat.search(p) is not None)
            if s:
                spans.append(max(e for _, e in s) - min(a for a, _ in s))
        m["plans.job.bucket_s_p50"] = median(spans) if spans else 0.0
        m["plans.job.bucket_s_max"] = max(spans) if spans else 0.0
        mat = log.sql_spans(jobs, lambda p: "/_bucketed" in p and "/bucket=" not in p)
        m["plans.job.materialize_s"] = (
            max(e for _, e in mat) - min(a for a, _ in mat) if mat else 0.0
        )


class BatchResumeSkew(BatchUniform):
    """A bucketed run_job killed half way, then resumed, over a table
    with one hot conversation and oversized turns."""

    name = "batch_resume_skew"
    skew = {"hot_conv_fraction": 0.3, "oversize_every": 100_000}
    n_buckets = 8
    fail_after = 4
    min_ops = 1
    extra_layers = False

    def __init__(self, ctx):
        super().__init__(ctx)
        self.total_times: list[float] = []

    def params(self) -> dict:
        return {"rows": self.rows, **self.skew, "n_buckets": self.n_buckets,
                "fail_after": self.fail_after}

    def warm(self) -> None:
        """The reference: the same totals from one uninterrupted
        run_pipeline pass, without the job runner."""
        res = run_pipeline(self.spark, self.spark.read.parquet(self.inp), CFG)
        rows = res.routed.groupBy("outcome").agg(
            F.count("*").alias("n"), F.sum(_crc()).alias("crc")
        ).collect()
        self.reference = {
            "routed_rows": sum(r["n"] for r in rows),
            "by_outcome": {r["outcome"]: r["n"] for r in sorted(rows)},
            "rejected_rows": res.rejected.count(),
            "checksum": sum(r["crc"] for r in rows),
        }

    def op(self) -> None:
        out = self.ctx.work.fresh("out")
        t0 = time.perf_counter()
        try:
            self.job(out, fail_after=self.fail_after)
            killed = False
        except RuntimeError as e:
            killed = "injected failure" in str(e)
        t1 = time.perf_counter()
        res = self.job(out)
        t2 = time.perf_counter()
        self.times.append(t2 - t1)
        self.total_times.append(t2 - t0)
        got = manifest_totals(read_all_manifests(out))
        replayed = len(res.buckets_run)
        self.stats["plans.job.replayed_buckets"] = replayed
        self.ctx.result.op(
            killed
            and replayed == self.n_buckets - self.fail_after
            and got == self.reference,
            f"resume: killed={killed} replayed={replayed} output {got} != {self.reference}",
        )
        shutil.rmtree(out, ignore_errors=True)

    def op_seconds(self) -> list[float]:
        return self.total_times

    def reset(self) -> None:
        self.times, self.total_times = [], []


WORKLOADS = {w.name: w for w in (BatchUniform, BatchResumeSkew)}
