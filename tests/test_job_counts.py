"""Planning a lake read costs no Spark jobs; a mor batch's post-write
phase is one read.

The manifest already names every file a read opens and the schema version
each was written under, so ``scan`` builds its reader from that (explicit
schema, explicit file list) instead of asking Spark to infer a schema or
list leaf files in parallel.  A table with more than 32 data files is the
shape where Spark's default parallel listing would otherwise kick in.

Jobs are counted per job group, so every job a call launches on this
thread — listing, schema inference, AQE query stages — is seen.
"""

from __future__ import annotations

import itertools

import pytest

from glad_tiles_pipeline_spark.operators.merge import apply_batch
from glad_tiles_pipeline_spark.plans.lake import LakeTable
from glad_tiles_pipeline_spark.plans.planner import ingest_changelog
from glad_tiles_pipeline_spark.sources.generator import change_log

_groups = itertools.count()


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"jobcount-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("jobcount")
    log = str(base / "log")
    change_log(spark, 4000, n_repos=8, paths_per_repo=100).write.parquet(log)
    table = LakeTable.create(str(base / "t"), n_buckets=8)
    ingest_changelog(spark, table, log, batch_size=1000, max_batches=3,
                     merge_mode="mor")
    data_files = [f for f in table.manifest(None)["files"]
                  if f.get("kind") is None]
    assert len(data_files) > 32, len(data_files)
    return {"table": table, "log": log}


def test_building_a_scan_launches_no_jobs(spark, env):
    _df, n = _jobs(spark, lambda: env["table"].scan(spark))
    assert n == 0


def test_building_a_lookup_launches_at_most_its_bucket_job(spark, env):
    # a live key, so the bloom prune leaves files to read
    row = env["table"].scan(spark).select("repo", "path").first()
    df, n = _jobs(spark, lambda: env["table"].lookup(spark, *row))
    assert n <= 1
    assert df.count() == 1


def test_small_mor_batch_launches_at_most_five_jobs(spark, env):
    events = spark.read.parquet(env["log"]).filter("offset >= 3000")
    res, n = _jobs(spark, lambda: apply_batch(
        spark, env["table"], events, "b/s3000-3999",
        offsets={"lo": 3000, "hi": 3999}, merge_mode="mor",
    ))
    assert not res["skipped"]
    assert res["metrics"]["events_read"] == 1000
    assert n <= 5, n
