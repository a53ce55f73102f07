"""The benchmark's own tests: python3 -m pytest perfbench -q

The drift guard keeps the per-layer split honest: the prefix cuts call
the pipeline's operators one by one, and the last cut must reproduce
run_pipeline's routed rows, so a change to run_pipeline's composition
that the cuts do not follow fails here.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from apm_opentelemetry_collector_spark.plans.pipeline import run_pipeline  # noqa: E402
from apm_opentelemetry_collector_spark.session import get_spark  # noqa: E402
from apm_opentelemetry_collector_spark.sources.transcripts import (  # noqa: E402
    synth_transcripts,
)

import gen  # noqa: E402
from harness import tail, tail_percentile  # noqa: E402
from workloads import CFG, digest, pipeline_prefixes  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    return get_spark("perfbench-test", cores=2)


@pytest.mark.parametrize("skew", [{}, {"hot_conv_fraction": 0.3, "oversize_every": 997}])
def test_last_cut_reproduces_run_pipeline(spark, skew):
    tr = synth_transcripts(spark, n_rows=4000, n_convs=40, seed=5, **skew)
    layers = list(pipeline_prefixes(spark, tr, CFG))
    assert [name for name, _ in layers] == [
        "sources.transcripts", "operators.validate", "functions.parse",
        "operators.truncate", "operators.enrich", "operators.route",
        "functions.sharding", "operators.pack",
    ]
    assert digest(layers[-1][1]) == digest(run_pipeline(spark, tr, CFG).routed)


def _file_digests(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(hashlib.sha256(f.read()).hexdigest())
    return out


def test_stream_files_are_byte_identical_and_in_turn_order(spark, tmp_path):
    a = gen.stream_files(spark, str(tmp_path / "a"), 3000, 12, seed=7)
    b = gen.stream_files(spark, str(tmp_path / "b"), 3000, 12, seed=7)
    assert _file_digests(a) == _file_digests(b)
    last: dict[str, int] = {}
    total = 0
    for p in a:  # every conversation's turns arrive in turn_idx order
        t = pq.read_table(p).to_pydict()
        total += len(t["conv_id"])
        first: dict[str, int] = {}
        for conv, turn in zip(t["conv_id"], t["turn_idx"]):
            first.setdefault(conv, turn)
            assert turn > last.get(conv, -1)
        for conv in first:
            last[conv] = max(
                turn for c, turn in zip(t["conv_id"], t["turn_idx"]) if c == conv
            )
    assert total == 3000
    c = gen.stream_files(spark, str(tmp_path / "c"), 3000, 12, seed=8)
    assert _file_digests(c) != _file_digests(a)


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    assert tail(xs) == 89.0 and tail_percentile(100) == 90
    assert sum(x > tail(xs) for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == 3.0 and tail_percentile(3) == 100
