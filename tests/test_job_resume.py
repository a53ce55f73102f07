"""Kill-replay test: a killed job replays ONLY incomplete partitions
(north_star resumability; analog of the reference's retry/drain
invariants, encoder.go:226-263)."""

from __future__ import annotations

import glob
import os
import warnings

import pytest
from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.plans.job import (
    ConservationError,
    completed_buckets,
    read_all_manifests,
    run_job,
)
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts

N_BUCKETS = 4


def test_kill_replay_resumes_incomplete_only(spark, tmp_path):
    tr = synth_transcripts(spark, n_rows=4_000, n_convs=80)

    out_dir = str(tmp_path / "job")
    # first attempt dies after 2 of 4 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, tr, out_dir, n_buckets=N_BUCKETS, fail_after=2)
    assert len(completed_buckets(out_dir)) == 2

    # resume: must run exactly the 2 remaining buckets
    res = run_job(spark, tr, out_dir, n_buckets=N_BUCKETS)
    assert sorted(res.buckets_skipped) == sorted(completed_buckets(out_dir))[:2] or len(
        res.buckets_skipped
    ) == 2
    assert len(res.buckets_run) == 2

    # resumed output == clean-run output (manifest counts + checksums)
    clean_dir = str(tmp_path / "clean")
    run_job(spark, tr, clean_dir, n_buckets=N_BUCKETS)
    resumed = {m["bucket"]: m for m in read_all_manifests(out_dir)}
    clean = {m["bucket"]: m for m in read_all_manifests(clean_dir)}
    assert resumed.keys() == clean.keys() == set(range(N_BUCKETS))
    for b in clean:
        for key in ("routed_rows", "by_outcome", "rejected_rows", "checksum"):
            assert resumed[b][key] == clean[b][key], (b, key)

    # idempotent re-run: nothing left to do
    res2 = run_job(spark, tr, out_dir, n_buckets=N_BUCKETS)
    assert res2.buckets_run == [] and len(res2.buckets_skipped) == N_BUCKETS


def test_single_pass_mode(spark, tmp_path):
    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    out_dir = str(tmp_path / "single")
    res = run_job(spark, tr, out_dir, n_buckets=None)
    assert res.buckets_run == [0]
    m = read_all_manifests(out_dir)[0]
    assert m["routed_rows"] > 0
    # conservation recorded in the manifest
    assert m["routed_rows"] == sum(m["by_outcome"].values())


def test_resume_reuses_materialized_bucketed_input(spark, tmp_path):
    """A resumed run must NOT rescan/rewrite the raw input: the
    _bucketed layout materialized before the crash is reused (the
    _SUCCESS marker gates it)."""
    import os

    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    out_dir = str(tmp_path / "job")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, tr, out_dir, n_buckets=N_BUCKETS, fail_after=1)

    marker = os.path.join(out_dir, "_bucketed", "_SUCCESS")
    assert os.path.exists(marker)
    mtime_before = os.path.getmtime(marker)

    res = run_job(spark, tr, out_dir, n_buckets=N_BUCKETS)
    assert len(res.buckets_run) == N_BUCKETS - 1
    assert os.path.getmtime(marker) == mtime_before  # untouched on resume


def test_bucket_count_mismatch_fails_fast(spark, tmp_path):
    """ADVICE r2: a pre-bucketed layout written with MORE buckets than
    this run's n_buckets must raise, not silently drop the out-of-range
    buckets' rows."""
    from apm_opentelemetry_collector_spark.sources.transcripts import (
        write_partitioned,
    )

    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    layout = str(tmp_path / "layout8")
    write_partitioned(tr, layout, n_buckets=8)
    pre = spark.read.parquet(layout)

    with pytest.raises(ValueError, match="conv_bucket"):
        run_job(spark, pre, str(tmp_path / "job"), n_buckets=4)

    # matching count still works
    res = run_job(spark, pre, str(tmp_path / "job_ok"), n_buckets=8)
    assert len(res.buckets_run) == 8


def test_bucket_count_undershoot_warns(spark, tmp_path):
    """ADVICE r3: a layout written with FEWER buckets than requested is
    processed exactly once (no loss) but must WARN — buckets past the
    written layout stay empty and resume granularity follows the layout."""
    import warnings as warnings_mod

    from apm_opentelemetry_collector_spark.sources.transcripts import (
        write_partitioned,
    )

    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    layout = str(tmp_path / "layout4")
    write_partitioned(tr, layout, n_buckets=4)
    pre = spark.read.parquet(layout)

    with warnings_mod.catch_warnings(record=True) as caught:
        warnings_mod.simplefilter("always")
        res = run_job(spark, pre, str(tmp_path / "job16"), n_buckets=16)
    assert any("populates only buckets [0, 4)" in str(w.message) for w in caught)
    # all 16 manifests exist (12 for empty buckets), and the totals equal
    # a matching-layout run — rows processed exactly once, none lost
    assert len(res.manifests) == 16
    ok = run_job(spark, pre, str(tmp_path / "job4"), n_buckets=4)
    key = lambda r: (
        sum(m["routed_rows"] for m in r.manifests),
        sum(m["rejected_rows"] for m in r.manifests),
        sum(m["checksum"] for m in r.manifests),
    )
    assert key(res) == key(ok)


MANIFEST_KEYS = ("routed_rows", "by_outcome", "rejected_rows", "checksum")


def _from_files(spark, out_dir: str, sub: str) -> dict:
    """The manifest fields recomputed from what one bucket wrote: routed
    rows and checksum from routed/, the same per outcome from metrics/,
    and the rejected count from rejected/. A directory without part
    files (an empty bucket) counts as empty."""

    def read(kind):
        d = os.path.join(out_dir, kind, sub)
        parts = glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        return spark.read.parquet(d) if parts else None

    routed, metrics, rejected = read("routed"), read("metrics"), read("rejected")
    crc = F.crc32(F.concat_ws("|", "conv_id", "turn_idx", "sink", "outcome"))
    by_routed = {} if routed is None else {
        r["outcome"]: (r["n"], r["crc"])
        for r in routed.groupBy("outcome")
        .agg(F.count("*").alias("n"), F.sum(crc).alias("crc"))
        .collect()
    }
    by_metrics = {} if metrics is None else {
        r["outcome"]: (r["n"], r["crc"])
        for r in metrics.groupBy("outcome")
        .agg(F.sum("n").alias("n"), F.sum("crc").alias("crc"))
        .collect()
    }
    assert by_routed == by_metrics, (sub, by_routed, by_metrics)
    return {
        "routed_rows": sum(n for n, _ in by_routed.values()),
        "by_outcome": {o: n for o, (n, _) in by_routed.items()},
        "rejected_rows": 0 if rejected is None else rejected.count(),
        "checksum": sum(c for _, c in by_routed.values()),
    }


def _assert_reconciles(spark, out_dir: str) -> None:
    for m in read_all_manifests(out_dir):
        sub = "all" if m["bucket"] is None else f"bucket={m['bucket']}"
        got = _from_files(spark, out_dir, sub)
        assert {k: m[k] for k in MANIFEST_KEYS} == got, sub


def test_manifests_reconcile_with_written_files(spark, tmp_path):
    """Every manifest equals what its bucket wrote: routed, metrics and
    rejected files re-read. Covers a single pass, and a bucketed run
    whose last bucket is empty (a layout written with 2 of 3 buckets)."""
    from apm_opentelemetry_collector_spark.sources.transcripts import (
        write_partitioned,
    )

    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    single = str(tmp_path / "single")
    run_job(spark, tr, single, n_buckets=None)
    _assert_reconciles(spark, single)

    layout = str(tmp_path / "layout2")
    write_partitioned(tr, layout, n_buckets=2)
    bucketed = str(tmp_path / "bucketed")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        run_job(spark, spark.read.parquet(layout), bucketed, n_buckets=3)
    ms = read_all_manifests(bucketed)
    assert [m["bucket"] for m in ms] == [0, 1, 2]
    assert {k: ms[2][k] for k in MANIFEST_KEYS} == {
        "routed_rows": 0, "by_outcome": {}, "rejected_rows": 0, "checksum": 0,
    }
    assert ms[0]["rejected_rows"] + ms[1]["rejected_rows"] > 0
    _assert_reconciles(spark, bucketed)
    # the buckets add up to the single pass
    one = read_all_manifests(single)[0]
    for key in ("routed_rows", "rejected_rows", "checksum"):
        assert sum(m[key] for m in ms) == one[key], key


def test_single_pass_runs_no_driver_actions(spark, tmp_path, monkeypatch):
    """The job runner takes its counts from Observations on its writes:
    with DataFrame.collect and .count raising, a single pass still
    completes and writes the same manifest."""
    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    run_job(spark, tr, str(tmp_path / "plain"), n_buckets=None)
    want = read_all_manifests(str(tmp_path / "plain"))[0]

    def refuse(self, *a, **kw):
        raise AssertionError("driver action in the job runner")

    monkeypatch.setattr(type(tr), "collect", refuse)
    monkeypatch.setattr(type(tr), "count", refuse)
    run_job(spark, tr, str(tmp_path / "observed"), n_buckets=None)
    monkeypatch.undo()
    got = read_all_manifests(str(tmp_path / "observed"))[0]
    assert {k: got[k] for k in MANIFEST_KEYS} == {k: want[k] for k in MANIFEST_KEYS}


def test_lost_routed_file_refuses_manifest_and_replays(spark, tmp_path, monkeypatch):
    """Sent-versus-written conservation: a routed part file lost after
    the write (the rows the write was sent no longer match the rows the
    metrics count from the files) fails the bucket before its manifest
    is written, and a re-run replays that bucket alone."""
    from pyspark.sql.readwriter import DataFrameWriter

    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    out_dir = str(tmp_path / "job")
    lossy = os.path.join(out_dir, "routed", "bucket=1")
    write = DataFrameWriter.parquet

    def lose_one_file(self, path, *a, **kw):
        write(self, path, *a, **kw)
        if path == lossy:
            os.remove(sorted(glob.glob(os.path.join(path, "sink=*", "*.parquet")))[0])

    monkeypatch.setattr(DataFrameWriter, "parquet", lose_one_file)
    with pytest.raises(ConservationError, match="bucket=1"):
        run_job(spark, tr, out_dir, n_buckets=2)
    monkeypatch.undo()
    assert completed_buckets(out_dir) == {0}

    res = run_job(spark, tr, out_dir, n_buckets=2)
    assert res.buckets_run == [1] and res.buckets_skipped == [0]
    _assert_reconciles(spark, out_dir)
