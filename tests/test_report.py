"""Operational report (plans/lake.py::report) — the read side of the
per-batch lineage + metrics every commit records.

Contract under test: a mixed run (ingest batches + compaction +
rollback + re-ingest) rolls up with the right kind counts and event
totals (rows_applied + rows_deleted == winners ties the lineage sums to
the metrics sums); ``since_snapshot`` windows the report to exactly the
commits after it; skew reporting exposes the hottest-bucket share; the
CLI surfaces the same rollup under ``--report``; everything is
metadata-only (no SparkSession argument anywhere).
"""

from __future__ import annotations

import os

import pytest

from glad_tiles_pipeline_spark.operators.merge import compact
from glad_tiles_pipeline_spark.plans.lake import LakeTable
from glad_tiles_pipeline_spark.plans.planner import ingest_changelog
from glad_tiles_pipeline_spark.sources.generator import change_log

N = 6000


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("report")
    log_dir = str(tmp / "log")
    change_log(spark, N, n_repos=6, paths_per_repo=30).write.parquet(log_dir)
    table = LakeTable.create(str(tmp / "t"), n_buckets=8)
    ingest_changelog(spark, table, log_dir, batch_size=2000,
                     merge_mode="mor")
    compact(spark, table)
    return table, log_dir


def test_kinds_and_totals(run):
    table, _ = run
    rep = table.report()
    assert rep["snapshots"]["ingest"] == 3
    assert rep["snapshots"]["compact"] == 1
    t = rep["totals"]
    assert t["events_read"] == N
    assert 0 < t["winners"] <= N
    assert t["dupes_dropped"] == N - t["winners"] - t["control_events"]
    # lineage sums tie out against the metrics sums
    assert t["rows_applied"] + t["rows_deleted"] == t["winners"]
    assert rep["head"]["offsets_hi"] == {"default": N - 1}
    assert rep["head"]["snapshot_id"] == table.current_snapshot_id()


def test_since_snapshot_windows_the_report(run):
    table, _ = run
    full = table.report()
    # window starting after the first ingest commit: one batch gone
    part = table.report(since_snapshot=1)
    assert part["snapshots"]["ingest"] == 2
    assert part["totals"]["events_read"] == N - 2000
    assert part["snapshot_range"] == [2, table.current_snapshot_id()]
    # empty window
    empty = table.report(since_snapshot=table.current_snapshot_id())
    assert empty["snapshots"] == {}
    assert empty["totals"]["events_read"] == 0
    assert empty["events_per_sec"] is None
    assert full["snapshots"]["ingest"] == 3  # untouched by the above


def test_skew_share_is_sane(run):
    table, _ = run
    skew = table.report()["skew"]
    assert skew is not None
    assert skew["n_buckets"] == 8
    assert 0.0 < skew["hottest_bucket_share_mean"] <= 1.0
    assert (skew["hottest_bucket_share_max"]
            >= skew["hottest_bucket_share_mean"])
    # stats-planned partitioning: no single bucket owns a batch
    assert skew["hottest_bucket_share_max"] < 0.9


def test_rollback_and_reingest_kinds(spark, run, tmp_path):
    table, log_dir = run
    # independent copy of the scenario so module fixtures stay pristine
    t2 = LakeTable.create(str(tmp_path / "t2"), n_buckets=8)
    ingest_changelog(spark, t2, log_dir, batch_size=2000, merge_mode="mor")
    t2.rollback(2)  # drop the last ingest commit
    ingest_changelog(spark, t2, log_dir, batch_size=2000, merge_mode="mor")
    rep = t2.report()
    assert rep["snapshots"]["admin"] == 1          # the rollback commit
    assert rep["snapshots"]["rolled_back"] == 1    # the dead snapshot
    assert rep["snapshots"]["ingest"] == 3         # 2 live + 1 re-applied
    # events_read counts LIVE ingest commits only (the dead one is not
    # double-counted even though its manifest still exists)
    assert rep["totals"]["events_read"] == N + 2000 - 2000


def test_cli_report(spark, run, tmp_path):
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        from ingest import main as ingest_main
    finally:
        sys.path.pop(0)
    _, log_dir = run
    import io
    import json
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = ingest_main([
            "--changelog", log_dir, "--table", str(tmp_path / "t3"),
            "--create", "--batch-size", "3000", "--merge-mode", "mor",
            "--compact-after", "--report",
        ])
    assert rc == 0
    summary = json.loads(
        [l for l in buf.getvalue().splitlines() if l.startswith("{")][-1]
    )
    rep = summary["report"]
    assert rep["snapshots"] == {"ingest": 2, "compact": 1}
    assert rep["totals"]["events_read"] == N
    assert rep["head"]["offsets_hi"] == {"default": N - 1}


def test_cli_report_covers_derived_sinks(spark, run, tmp_path):
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        from ingest import main as ingest_main
    finally:
        sys.path.pop(0)
    _, log_dir = run
    import io
    import json
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = ingest_main([
            "--changelog", log_dir, "--table", str(tmp_path / "t4"),
            "--create", "--batch-size", "3000",
            "--signature-index", str(tmp_path / "sig"), "--report",
        ])
    assert rc == 0
    summary = json.loads(
        [l for l in buf.getvalue().splitlines() if l.startswith("{")][-1]
    )
    sig = summary["report"]["derived"]["signature index"]
    assert sig["snapshots"]["ingest"] == 2
    # the sink's high-water tracks the table's (hook passes offsets through)
    assert sig["head"]["offsets_hi"] == {"default": N - 1}
    # sink events are signature events, not raw changelog events
    assert sig["totals"]["events_read"] > 0


def test_throughput_matches_measured_apply_time(spark, run, tmp_path):
    import time

    from glad_tiles_pipeline_spark.operators.merge import apply_batch

    _, log_dir = run
    log = spark.read.parquet(log_dir)
    t = LakeTable.create(str(tmp_path / "t5"), n_buckets=8)
    measured = 0.0
    for lo in range(0, N, 2000):
        hi = lo + 1999
        events = log.filter(f"offset between {lo} and {hi}")
        t0 = time.perf_counter()
        apply_batch(spark, t, events, f"b/s{lo}-{hi}",
                    offsets={"lo": lo, "hi": hi}, merge_mode="mor")
        measured += time.perf_counter() - t0
    rep = t.report()
    assert rep["totals"]["events_read"] == N
    assert rep["events_per_sec"] == pytest.approx(N / measured, rel=0.10)
    assert rep["apply_seconds"] == pytest.approx(measured, rel=0.10)
