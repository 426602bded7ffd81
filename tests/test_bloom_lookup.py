"""S27 — per-file key blooms for point lookups on UNCLUSTERED layouts.

The gap this closes (VERDICT r4 "Next #4"): ``lookup`` was O(1) files only
after key-clustered compaction gave path min/max stats teeth; on a fresh
merge-on-read layout every delta file of the key's bucket had to be
opened.  Now every fresh delta/tomb file carries an 8 KiB key bloom in its
manifest entry (written JVM-side by ``_post_write_stats``), and ``scan(key=)``
drops files whose bloom excludes the key — a DEFINITE negative, so the
prune commutes with LWW resolution like the repo-stats prune.

Gates under test: lookup on a fresh (never-compacted) mor AND mor_dv table
opens <=2 row files for a single-batch key; an absent key opens ZERO; the
driver-side position twin is bit-identical to the JVM expression.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from glad_tiles_pipeline_spark.functions.hashing import (
    bloom_may_contain,
    bloom_positions,
    bloom_positions_expr,
    pack_bloom,
)
from glad_tiles_pipeline_spark.plans.lake import LakeTable
from glad_tiles_pipeline_spark.plans.oracle import oracle_state_df
from glad_tiles_pipeline_spark.plans.planner import ingest_changelog
from glad_tiles_pipeline_spark.sources.generator import change_log

N_EVENTS = 6000
BATCH = 1000


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bloomlk")
    events = change_log(spark, N_EVENTS, late_denom=4, late_max_lag=1500)
    log = str(base / "log")
    events.write.parquet(log)
    tables = {}
    for mode in ("mor", "mor_dv"):
        t = LakeTable.create(str(base / mode), n_buckets=4)
        ingest_changelog(spark, t, log, batch_size=BATCH, merge_mode=mode)
        tables[mode] = t
    ev = spark.read.parquet(log)
    oracle = oracle_state_df(spark, ev).cache()
    # a key whose every event falls in ONE ingest batch and that is live at
    # the end: its bloom matches exactly one batch's files
    single = (
        ev.groupBy("repo", "path")
        .agg(F.min("offset").alias("lo"), F.max("offset").alias("hi"))
        .filter(F.floor(F.col("lo") / BATCH) == F.floor(F.col("hi") / BATCH))
        .join(oracle.select("repo", "path"), ["repo", "path"], "semi")
        .orderBy("repo", "path")
        .first()
    )
    assert single is not None
    return {
        "tables": tables,
        "oracle": oracle,
        "key": (single["repo"], single["path"]),
    }


def _row_files(table, df):
    """Data/tomb files the plan reads (dv kill lists are metadata reads)."""
    dv = {
        f["path"]
        for f in table.manifest(None)["files"]
        if f.get("kind") == "dv"
    }
    out = []
    for f in df.inputFiles():
        rel = f.split("file:")[-1].lstrip("/")
        rel = "/" + rel
        relp = rel[len(table.root.rstrip("/")) + 1 :]
        if relp not in dv:
            out.append(relp)
    return out


def test_manifest_entries_carry_blooms(env):
    for mode, t in env["tables"].items():
        m = t.manifest(None)
        rowfiles = [f for f in m["files"] if f.get("kind") != "dv"]
        assert rowfiles, mode
        assert all("bloom" in f for f in rowfiles), mode
        # packed size stays the fixed 8 KiB geometry (base64 of 2^13 bytes)
        assert all(len(f["bloom"]) == 10924 for f in rowfiles), mode
        # no false negatives: every key a fresh file holds is in its bloom
        for f in rowfiles:
            keys = pq.read_table(
                os.path.join(t.root, f["path"]), columns=["repo", "path"]
            ).to_pylist()
            assert len(keys) == f["rows"], (mode, f["path"])
            for k in keys:
                assert bloom_may_contain(
                    f["bloom"], bloom_positions(k["repo"], k["path"])
                ), (mode, f["path"], k)


@pytest.mark.parametrize("mode", ["mor", "mor_dv"])
def test_lookup_opens_at_most_two_files_fresh_layout(spark, env, mode):
    t = env["tables"][mode]
    assert t.unresolved_buckets(), "fixture must be fresh (uncompacted)"
    repo, path = env["key"]
    out = t.lookup(spark, repo, path)
    rows = out.collect()
    want = (
        env["oracle"]
        .filter((F.col("repo") == repo) & (F.col("path") == path))
        .collect()
    )
    assert len(rows) == len(want) == 1
    assert rows[0]["content_sha"] == want[0]["content_sha"]
    opened = _row_files(t, out)
    assert 1 <= len(opened) <= 2, (mode, opened)


@pytest.mark.parametrize("mode", ["mor", "mor_dv"])
def test_lookup_absent_key_opens_zero_files(spark, env, mode):
    t = env["tables"][mode]
    out = t.lookup(spark, "no-such-repo", "no/such/path.py")
    assert out.count() == 0
    assert _row_files(t, out) == []


def test_bloom_position_twins_bit_identical(spark):
    df = spark.createDataFrame(
        [("r-0001", "src/a/b.py"), ("x", "y"), ("Ω", "päth/ü.rs")],
        "repo string, path string",
    )
    got = df.select(
        "repo", "path", bloom_positions_expr("repo", "path").alias("ps")
    ).collect()
    for r in got:
        assert list(r["ps"]) == bloom_positions(r["repo"], r["path"])


def test_bloom_membership_semantics():
    ps = bloom_positions("r", "p")
    packed = pack_bloom(ps)
    assert bloom_may_contain(packed, ps)
    other = bloom_positions("r", "q")
    assert not bloom_may_contain(packed, other)  # 2^-128-ish to collide


def test_compaction_drops_blooms_with_the_deltas(spark, env):
    """Compacted output relies on clustered path stats, not blooms — the
    manifest sheds the bloom weight when the delta files retire."""
    from glad_tiles_pipeline_spark.operators.merge import compact

    t = env["tables"]["mor"]
    compact(spark, t, cluster_by_key=True)
    m = t.manifest(None)
    assert not t.unresolved_buckets()
    assert all("bloom" not in f for f in m["files"])
    # and the clustered lookup path still answers correctly
    repo, path = env["key"]
    rows = t.lookup(spark, repo, path).collect()
    assert len(rows) == 1
