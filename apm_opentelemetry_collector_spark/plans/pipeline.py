"""End-to-end pipeline assembly: parse → enrich → route → aggregate.

The Spark lifecycle equivalent of the reference's EP1 flagship path
(SURVEY.md §3): scan transcripts → validate (receiver protocol) →
forward-fill (node multiplexing) → parse (span/attributes processors) →
truncate (XL spans) → enrich (resource processor, broadcast) → fan-out
(pipelines config) → send outcomes (exporter result codes) → shard
assignment (omnishard md5 ranges) → record packing → metric aggregates
(obsreport views).

Everything is lazy; `run_pipeline` returns named DataFrames so callers
(driver entry, tests, bench) choose what to materialize. `routed_stream`
builds only the routed stream, for callers that need none of the
aggregates (the job runner, the SQL views). The routed stream shuffles
the fact table once, on conv_id (protocol check and forward fill share
the exchange). Record packing shuffles the accepted rows again, on
(sink, shard_id), and the salted aggregate adds its own exchanges over
partial counts. Every config join is broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions import sharding
from ..functions.parse import with_parsed
from ..operators.aggregate import (
    flushed_stats,
    receiver_counts,
    sink_outcome_counts,
)
from ..operators.enrich import enrich
from ..operators.forward_fill import forward_fill
from ..operators.pack import assign_batches, record_stats
from ..operators.route import fan_out, with_send_outcome
from ..operators.truncate import truncate_oversize
from ..operators.validate import split_valid
from ..sources import fixtures


@dataclass
class PipelineResult:
    valid: DataFrame            # admitted turns (parsed, enriched)
    rejected: DataFrame         # refused/dropped at the receiver
    routed: DataFrame           # after fan-out + shard + outcome columns
    records: DataFrame          # packed record stats per (sink, shard, batch)
    sink_counts: DataFrame      # A9 flagship aggregate
    receiver_counts: DataFrame  # A7
    flushed: DataFrame          # A1/A8


def routed_stream(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    routes: DataFrame | None = None,
    service_dim: DataFrame | None = None,
    shards: list[dict] | None = None,
    use_pandas_udf_parse: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(valid, rejected, routed): validate → fill → parse → truncate →
    enrich → fan-out → outcome → shard, without the aggregates."""
    cfg = cfg or PipelineConfig()
    routes = routes if routes is not None else fixtures.routes_df(spark)
    service_dim = (
        service_dim if service_dim is not None else fixtures.service_dim_df(spark)
    )
    shard_list = shards if shards is not None else sharding.even_shards(cfg.n_shards)

    # receiver stage: protocol validation (F1/S4)
    valid, rejected = split_valid(transcripts, cfg.backpressure_on)
    # node multiplexing (S3/W1) — window by default; bucketed anchors
    # join under hot-conversation skew (cfg.fill_strategy)
    if cfg.fill_strategy == "join":
        from ..operators.forward_fill import forward_fill_join

        valid = forward_fill_join(valid)
    else:
        valid = forward_fill(valid)
    # parse (P1) — vectorized; column-expression grok by default
    valid = with_parsed(valid, use_pandas_udf=use_pandas_udf_parse)
    # XL truncation (P4) — rewrites text, may mark fatal drops
    valid = truncate_oversize(valid, cfg).drop("outcome", "drop_reason")
    # enrich (J7/P9/P2)
    valid = enrich(valid, service_dim)

    # routing: fan-out (J6) + deterministic send outcomes (T6/A5/A6)
    routed = fan_out(valid, routes)
    routed = with_send_outcome(routed, cfg)
    # shard assignment (J1-J3) on the routed stream, like the omnishard
    # exporter sharding each pipeline's output
    routed = sharding.assign_shard(routed, shard_list, "conv_id", "left")
    return valid, rejected, routed


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    routes: DataFrame | None = None,
    service_dim: DataFrame | None = None,
    shards: list[dict] | None = None,
    use_pandas_udf_parse: bool = False,
) -> PipelineResult:
    cfg = cfg or PipelineConfig()
    valid, rejected, routed = routed_stream(
        spark, transcripts, cfg, routes, service_dim, shards, use_pandas_udf_parse
    )

    # record packing (W3) on accepted rows only — dropped sends never
    # reach a record (hooks.go:128-160 orders drop before flush)
    accepted = routed.filter(F.col("outcome") == "accepted")
    packed = assign_batches(accepted, cfg)
    records = record_stats(packed)

    return PipelineResult(
        valid=valid,
        rejected=rejected,
        routed=routed,
        records=records,
        sink_counts=sink_outcome_counts(routed, cfg, salted=True),
        receiver_counts=receiver_counts(valid, rejected),
        flushed=flushed_stats(records),
    )
