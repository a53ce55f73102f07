"""Config round-trip tests — the reference's config_test.go pattern:
YAML → struct equality including defaults (exporter/omnishard/
config_test.go:30-97 with testdata/{config,default}.yaml)."""

from __future__ import annotations

import pytest

from apm_opentelemetry_collector_spark.sources.yaml_config import parse_config

FULL = """
pipelines:
  traces/all:
    sinks: [sink_all]
  traces/tooling:
    match: {tool: search}
    sinks: [sink_tools, sink_mirror]
sharding:
  even: 8
tuning:
  max_record_size: 50000
  backpressure_on: false
"""

MINIMAL = """
pipelines:
  traces/all:
    sinks: [sink_all]
"""

# quotes and backslashes in user YAML: single-quoted YAML keeps '\'
# literal and doubles "'" ('o\''brien\\sink' loads as o\'brien\\sink)
ODD = r"""
pipelines:
  everything:
    sinks: ['o\''brien\\sink', sink_all]
  odd/tool:
    match: {tool: 'it''s\x'}
    sinks: ['to''ols\x']
"""
ODD_SINK = "o\\'brien\\\\sink"
ODD_TOOL = "it's\\x"
ODD_TOOL_SINK = "to'ols\\x"


def test_full_config_round_trip():
    sc = parse_config(FULL)
    assert ("traces/all", "*", "*", "sink_all") in sc.routes
    # every sink of a pipeline gets a route (fan-out semantics)
    assert ("traces/tooling", "*", "search", "sink_tools") in sc.routes
    assert ("traces/tooling", "*", "search", "sink_mirror") in sc.routes
    assert len(sc.shards) == 8 and sc.pipeline.n_shards == 8
    assert sc.pipeline.max_record_size == 50_000
    assert sc.pipeline.backpressure_on is False
    # unset keys keep reference defaults
    assert sc.pipeline.max_span_size == 900_000


def test_minimal_config_gets_all_defaults():
    sc = parse_config(MINIMAL)
    assert sc.pipeline.max_record_size == 100_000   # factory.go:33
    assert sc.pipeline.max_span_size == 900_000     # factory.go:35
    assert sc.pipeline.backpressure_on is True      # config.go:47
    assert len(sc.shards) == 4


def test_invalid_configs_rejected():
    with pytest.raises(ValueError, match="at least one pipeline"):
        parse_config("tuning: {max_record_size: 1}")
    with pytest.raises(ValueError, match="no sinks"):
        parse_config("pipelines: {p: {match: {role: user}}}")
    with pytest.raises(ValueError, match="unknown tuning keys"):
        parse_config(MINIMAL + "tuning: {bogus_knob: 1}")
    with pytest.raises(ValueError, match="overlap"):
        parse_config(
            MINIMAL
            + """
sharding:
  shards:
    - {shard_id: a, start_key: '00000000000000000000000000000000', end_key: '80000000000000000000000000000000'}
    - {shard_id: b, start_key: '70000000000000000000000000000000', end_key: 'ffffffffffffffffffffffffffffffff'}
"""
        )


def test_explicit_shards_sorted_and_used(spark):
    sc = parse_config(
        MINIMAL
        + """
sharding:
  shards:
    - {shard_id: hi, start_key: '80000000000000000000000000000000', end_key: 'ffffffffffffffffffffffffffffffff'}
    - {shard_id: lo, start_key: '00000000000000000000000000000000', end_key: '7fffffffffffffffffffffffffffffff'}
"""
    )
    assert [s["shard_id"] for s in sc.shards] == ["lo", "hi"]  # sorted by start
    # and the loaded config drives the pipeline end-to-end
    from apm_opentelemetry_collector_spark.plans.pipeline import run_pipeline
    from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts
    from apm_opentelemetry_collector_spark.sources import fixtures

    tr = synth_transcripts(spark, n_rows=500, n_convs=20)
    res = run_pipeline(
        spark, tr, sc.pipeline, routes=fixtures.routes_df(spark, sc.routes),
        shards=sc.shards,
    )
    shards_seen = {r["shard_id"] for r in res.routed.select("shard_id").distinct().collect()}
    assert shards_seen <= {"lo", "hi"} and shards_seen


def test_fan_out_matches_yaml_strings_verbatim(spark):
    # the routes table must carry pattern and sink strings unchanged: a
    # turn whose tool IS the odd pattern matches it, and every routed
    # sink is the YAML string itself
    from apm_opentelemetry_collector_spark.operators.route import fan_out
    from apm_opentelemetry_collector_spark.sources import fixtures

    routes = fixtures.routes_df(spark, parse_config(ODD).routes)
    turns = fixtures.local_relation(
        spark,
        [("c1", "user", ODD_TOOL), ("c2", "user", "search")],
        "conv_id string, role string, tool string",
    )
    got = {(r["conv_id"], r["sink"]) for r in fan_out(turns, routes).collect()}
    assert got == {
        ("c1", ODD_SINK), ("c1", "sink_all"), ("c1", ODD_TOOL_SINK),
        ("c2", ODD_SINK), ("c2", "sink_all"),
    }


def test_submit_job_routes_yaml_strings_verbatim(spark, tmp_path, monkeypatch, capsys):
    # scripts/submit_job.py end to end (in-process, on the test session):
    # the routed table's sink partitions read back as the YAML strings
    import importlib.util
    import json
    import os
    import sys

    script = os.path.join(os.path.dirname(__file__), "..", "scripts", "submit_job.py")
    spec = importlib.util.spec_from_file_location("submit_job", script)
    submit_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(submit_job)

    cfg_path = tmp_path / "odd.yaml"
    cfg_path.write_text(ODD)
    out = tmp_path / "out"
    monkeypatch.setattr(sys, "argv", [
        "submit_job.py", "--synthetic", "2000", "--output", str(out),
        "--config", str(cfg_path), "--buckets", "0",
    ])
    submit_job.main()
    assert json.loads(capsys.readouterr().out)["rows"] > 0
    sinks = {
        r["sink"]
        for r in spark.read.parquet(str(out / "routed" / "all"))
        .select("sink").distinct().collect()
    }
    # synthetic turns never carry the odd tool, so its pipeline routes nothing
    assert sinks == {ODD_SINK, "sink_all"}
