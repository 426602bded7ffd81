"""Changelog retention (sources/changelog.py::prune_changelog) — WAL
truncation with honest refusal below the horizon.

Contract under test: files wholly below every consumer's resume point
are deleted (proven from parquet footers, newest file always retained);
a lagging consumer CAPS the horizon so its catch-up window survives;
the marker makes any read that would start below the horizon raise —
batch (rollback-then-reingest) and stream (fresh checkpoint) alike —
instead of silently missing history; the marker is monotone; the CLI
composes prune as the run's last action and stays replay-clean.
"""

from __future__ import annotations

import os

import pytest

from glad_tiles_pipeline_spark.plans.lake import LakeTable
from glad_tiles_pipeline_spark.plans.oracle import oracle_state_df
from glad_tiles_pipeline_spark.plans.planner import ingest_changelog, max_offset
from glad_tiles_pipeline_spark.sources.changelog import (
    prune_changelog,
    prune_horizon,
    read_changelog_batch,
)
from glad_tiles_pipeline_spark.sources.generator import change_log

N = 4000


def _parquet_files(d):
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


@pytest.fixture()
def log(spark, tmp_path):
    """Offset-range-partitioned log: 8 files, each a contiguous slice —
    the shape an append-only tail actually has on disk."""
    d = str(tmp_path / "log")
    change_log(spark, N, partitions=8).write.parquet(d)
    assert len(_parquet_files(d)) == 8
    return d


def test_prune_after_full_ingest(spark, log, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    ingest_changelog(spark, table, log, batch_size=1000)
    res = prune_changelog(log, consumers=[(table, "default")])
    assert res["horizon"] == N - 1
    assert res["pruned_files"] == 7          # newest file always retained
    # the marker records what is ACTUALLY missing (max offset of the
    # deleted files), not the requested horizon — the retained tail file
    # keeps its range fully readable
    assert res["marker"] == N - 501
    assert len(_parquet_files(log)) == 1
    # the log keeps its end-of-stream marker and the planner stays a
    # pure replay (resume point is above everything pruned)
    assert max_offset(spark, log) == N - 1
    r = ingest_changelog(spark, table, log, batch_size=1000)
    assert r == []
    # reads that would start below the horizon refuse loudly
    with pytest.raises(ValueError, match="prune"):
        read_changelog_batch(spark, log, 100, 2000)
    with pytest.raises(ValueError, match="prune"):
        read_changelog_batch(spark, log)  # full scan of a pruned log
    # a read starting AT the horizon is fine (empty tail window)
    assert read_changelog_batch(spark, log, N - 1, N - 1).count() == 0


def test_lagging_consumer_caps_horizon(spark, log, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    ingest_changelog(spark, table, log, batch_size=1000)
    lag = LakeTable.create(str(tmp_path / "lag"), n_buckets=8)
    ingest_changelog(spark, lag, log, batch_size=1000, max_batches=2)
    assert lag.last_committed_offset() == 1999
    res = prune_changelog(log, consumers=[(table, "default"), lag])
    assert res["horizon"] == 1999
    # files above the lagging consumer's resume point survive, and its
    # catch-up window is still fully readable
    assert read_changelog_batch(spark, log, 1999, N - 1).count() == N - 2000
    ingest_changelog(spark, lag, log, batch_size=1000)
    got = lag.scan(spark)
    # state equality can't be checked against the full oracle (history
    # pruned) — instead: the two tables, fed identically, agree exactly
    t_cols = sorted(got.columns)
    full = table.scan(spark)
    assert got.select(t_cols).exceptAll(full.select(t_cols)).count() == 0
    assert full.select(t_cols).exceptAll(got.select(t_cols)).count() == 0


def test_rollback_below_horizon_fails_loudly(spark, log, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    ingest_changelog(spark, table, log, batch_size=1000)
    prune_changelog(log, consumers=[table])
    table.rollback(1)  # resume point drops to 999, below the horizon
    with pytest.raises(ValueError, match="prune"):
        ingest_changelog(spark, table, log, batch_size=1000)


def test_stream_fresh_checkpoint_guard(spark, log, tmp_path):
    from glad_tiles_pipeline_spark.streaming.bridge import stream_ingest

    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    ingest_changelog(spark, table, log, batch_size=1000)
    prune_changelog(log, consumers=[table])
    fresh = LakeTable.create(str(tmp_path / "fresh"), n_buckets=8)
    with pytest.raises(ValueError, match="prune horizon"):
        stream_ingest(spark, fresh, log, str(tmp_path / "ckpt"))
    # the caught-up table itself may keep streaming: the surviving tail
    # file re-feeds under the stream's own content-addressed id and
    # lands as an LWW no-op — state unchanged
    before = sorted(
        tuple(r) for r in table.scan(spark).collect()
    )
    stream_ingest(spark, table, log, str(tmp_path / "ckpt2"))
    after = sorted(tuple(r) for r in table.scan(spark).collect())
    assert after == before


def test_marker_is_monotone_and_explicit_horizon(spark, log, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    ingest_changelog(spark, table, log, batch_size=1000)
    assert prune_changelog(log, below_offset=1999)["marker"] == 1999
    # a LOWER later horizon cannot regress the marker
    res = prune_changelog(log, below_offset=500)
    assert res["marker"] == 1999
    assert prune_horizon(log) == 1999
    # explicit horizon is capped by consumers when both are given
    res = prune_changelog(log, below_offset=10**9, consumers=[table])
    assert res["horizon"] == N - 1


def test_audit_changelog_is_prune_aware(spark, log, tmp_path):
    """Retention is lifecycle, not loss: the input audit must not report
    the pruned range as gaps, and must surface the horizon it honored."""
    from glad_tiles_pipeline_spark.plans.audit import audit_changelog

    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    ingest_changelog(spark, table, log, batch_size=1000)
    res = prune_changelog(log, consumers=[table])
    audit = audit_changelog(spark, log)
    assert audit["ok"]
    assert not [f for f in audit["findings"] if f["code"] == "offset_gaps"]
    assert audit["checked"]["pruned_below"] == res["marker"]
    assert audit["checked"]["rows"] == 500  # the retained tail file


def test_cli_prune_composes(spark, log, tmp_path):
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        from ingest import main as ingest_main
    finally:
        sys.path.pop(0)

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = ingest_main([
            "--changelog", log, "--table", str(tmp_path / "t"),
            "--create", "--batch-size", "1000",
            "--signature-index", str(tmp_path / "sig"),
            "--prune-changelog",
        ])
    assert rc == 0
    summary = json.loads(
        [l for l in buf.getvalue().splitlines() if l.startswith("{")][-1]
    )
    assert summary["changelog_pruned"]["pruned_files"] == 7
    assert summary["changelog_pruned"]["horizon"] == N - 1
    # the next run over the pruned log is a pure replay, sinks included
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        rc = ingest_main([
            "--changelog", log, "--table", str(tmp_path / "t"),
            "--batch-size", "1000",
            "--signature-index", str(tmp_path / "sig"),
        ])
    assert rc == 0
    s2 = json.loads(
        [l for l in buf2.getvalue().splitlines() if l.startswith("{")][-1]
    )
    assert s2["batches_applied"] == 0


def test_cli_failed_audit_holds_back_prune_and_export(spark, log, tmp_path):
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        from ingest import main as ingest_main
    finally:
        sys.path.pop(0)

    table = LakeTable.create(str(tmp_path / "t"), n_buckets=8)
    ingest_changelog(spark, table, log, batch_size=1000)
    # corrupt the table: one data file loses a row its manifest counts
    f = next(f for f in table.manifest(None)["files"] if f["rows"] > 1)
    full = os.path.join(table.root, f["path"])
    pq.write_table(pq.read_table(full).slice(1), full)

    dest = str(tmp_path / "clone")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = ingest_main([
            "--changelog", log, "--table", table.root, "--batch-size", "1000",
            "--audit", "--prune-changelog", "--export-to", dest,
        ])
    assert rc == 3
    summary = json.loads(
        [l for l in buf.getvalue().splitlines() if l.startswith("{")][-1]
    )
    assert not summary["audit"]["ok"]
    assert summary["skipped_after_failed_audit"] == [
        "--prune-changelog", "--export-to",
    ]
    assert "changelog_pruned" not in summary and "exported" not in summary
    assert len(_parquet_files(log)) == 8
    assert not os.path.exists(dest)
