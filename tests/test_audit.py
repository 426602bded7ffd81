"""Table audit (plans/audit.py) — independent verification of every
manifest claim readers trust.

Contract under test: a healthy table (mor_dv ingest with deletes, blooms,
delete vectors, tags) audits CLEAN with non-trivial coverage counters;
each corruption class — missing file, wrong row count, stats that fail to
bracket the data, a bloom with a false negative, a dangling delete-vector
reference, a dangling tag — is detected with its specific finding code;
``deep=False`` audits metadata-only invariants without opening files.
"""

from __future__ import annotations

import json
import os

import pytest

from glad_tiles_pipeline_spark.plans.audit import audit_table
from glad_tiles_pipeline_spark.plans.lake import LakeTable
from glad_tiles_pipeline_spark.plans.planner import ingest_changelog
from glad_tiles_pipeline_spark.sources.generator import change_log


@pytest.fixture(scope="module")
def audited(spark, tmp_path_factory):
    """One mor_dv table shared by every corruption scenario (each test
    tampers a COPY of the manifest or restores what it broke)."""
    tmp = tmp_path_factory.mktemp("audit")
    log_dir = str(tmp / "log")
    change_log(spark, 5000, n_repos=8, paths_per_repo=40).write.parquet(log_dir)
    table = LakeTable.create(str(tmp / "t"), n_buckets=8)
    ingest_changelog(spark, table, log_dir, batch_size=1000,
                     merge_mode="mor_dv")
    table.create_tag("release")
    return table


def _manifest_file(table):
    return os.path.join(table.root, table._manifest_path(
        table.current_snapshot_id()))


def _tamper(table, mutate):
    """Apply ``mutate(manifest_dict)`` to the CURRENT manifest on disk and
    return a restore handle."""
    path = _manifest_file(table)
    original = open(path).read()
    m = json.loads(original)
    mutate(m)
    with open(path, "w") as fh:
        fh.write(json.dumps(m))
    return lambda: open(path, "w").write(original)


def test_clean_table_audits_clean(audited):
    res = audit_table(audited)
    assert res["ok"], res["findings"]
    assert res["findings"] == []
    c = res["checked"]
    assert c["files"] > 0 and c["rows"] > 0
    # the fixture genuinely exercises the deep checks: fresh mor_dv files
    # carry blooms, and deletes against stored rows produced kill lists
    assert c["blooms"] > 0
    assert c["dv_refs"] > 0
    assert c["sha_rows"] > 0
    assert c["tags"] == 1


def test_missing_file_detected(audited):
    f = next(f for f in audited.manifest(None)["files"]
             if f.get("kind") != "dv")
    full = os.path.join(audited.root, f["path"])
    os.rename(full, full + ".hidden")
    try:
        res = audit_table(audited)
        assert not res["ok"]
        assert any(x["code"] == "missing_file" and f["path"] in x["detail"]
                   for x in res["findings"])
        # metadata-only audit doesn't open files, so it stays clean
        assert audit_table(audited, deep=False)["ok"]
    finally:
        os.rename(full + ".hidden", full)


def test_row_count_mismatch_detected(audited):
    def mutate(m):
        f = next(f for f in m["files"] if f["rows"] > 0)
        f["rows"] += 1

    restore = _tamper(audited, mutate)
    try:
        res = audit_table(audited)
        assert any(x["code"] == "row_count_mismatch" for x in res["findings"])
    finally:
        restore()


def test_stats_out_of_bounds_detected(audited):
    def mutate(m):
        f = next(f for f in m["files"]
                 if (f.get("stats") or {}).get("repo"))
        lo, hi = f["stats"]["repo"]
        f["stats"]["repo"] = [lo, lo]  # narrowed: no longer brackets max

    restore = _tamper(audited, mutate)
    try:
        res = audit_table(audited)
        assert any(x["code"] == "stats_out_of_bounds" and ".repo" in x["detail"]
                   for x in res["findings"])
    finally:
        restore()


def test_bloom_false_negative_detected(audited):
    import base64

    from glad_tiles_pipeline_spark.functions.hashing import BLOOM_BITS

    def mutate(m):
        f = next(f for f in m["files"] if "bloom" in f and f["rows"] > 0)
        f["bloom"] = base64.b64encode(bytes(BLOOM_BITS // 8)).decode()

    restore = _tamper(audited, mutate)
    try:
        res = audit_table(audited)
        assert any(x["code"] == "bloom_false_negative"
                   for x in res["findings"])
    finally:
        restore()


def test_bloom_keys_found_by_field_id(audited):
    # field order in a schema carries no meaning, only the ids do: with
    # the key fields listed last the bloom probes must still use them
    def mutate(m):
        for fields in m["schemas"].values():
            fields.sort(key=lambda f: f["id"] in (1, 2))

    restore = _tamper(audited, mutate)
    try:
        res = audit_table(audited)
        assert res["ok"], res["findings"]
        assert res["checked"]["blooms"] > 0
    finally:
        restore()


def test_dv_dangling_ref_detected(audited):
    import pyarrow.parquet as pq

    dv = next(f for f in audited.manifest(None)["files"]
              if f.get("kind") == "dv")
    ref = pq.ParquetFile(os.path.join(audited.root, dv["path"])).read(
        columns=["path"]).to_pylist()[0]["path"]

    def mutate(m):
        m["files"] = [f for f in m["files"] if f["path"] != ref]

    restore = _tamper(audited, mutate)
    try:
        res = audit_table(audited)
        assert any(x["code"] == "dv_dangling_ref" and ref in x["detail"]
                   for x in res["findings"])
    finally:
        restore()


def test_content_sha_mismatch_detected(audited):
    """The north-star per-row invariant is spot-checked with hashlib: a
    stored sha that no longer matches sha256(content) is a finding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = next(f for f in audited.manifest(None)["files"]
             if f.get("kind") not in ("dv", "tomb") and f["rows"] > 0)
    full = os.path.join(audited.root, f["path"])
    original = open(full, "rb").read()
    t = pq.read_table(full)
    idx = t.schema.names.index("content_sha")
    col = t.column("content_sha").to_pylist()
    col[0] = "deadbeef" * 8
    t = t.set_column(idx, "content_sha", pa.array(col, pa.string()))
    pq.write_table(t, full)
    try:
        res = audit_table(audited)
        assert any(x["code"] == "content_sha_mismatch"
                   for x in res["findings"])
    finally:
        open(full, "wb").write(original)
    assert audit_table(audited)["ok"]


def test_tag_dangling_detected(audited):
    tdir = audited._tags_dir()
    bad = os.path.join(tdir, "ghost.json")
    audited.io.put_if_absent(bad, json.dumps({"snapshot_id": 9999}))
    try:
        res = audit_table(audited, deep=False)
        assert any(x["code"] == "tag_dangling" and "ghost" in x["detail"]
                   for x in res["findings"])
    finally:
        audited.io.delete(bad)


def test_batch_index_inconsistency_detected(audited):
    def mutate(m):
        m["batch_id"] = "never-committed-id"

    restore = _tamper(audited, mutate)
    try:
        res = audit_table(audited, deep=False)
        assert any(x["code"] == "batch_index_inconsistent"
                   for x in res["findings"])
    finally:
        restore()


def test_expired_snapshot_refused_not_reported_as_corruption(spark, tmp_path):
    """Vacuum legitimately removes an expired snapshot's files — auditing
    one must refuse (like scan), never report expiry as corruption; the
    current snapshot stays clean after the vacuum."""
    log_dir = str(tmp_path / "log")
    change_log(spark, 2000, n_repos=4, paths_per_repo=20).write.parquet(log_dir)
    table = LakeTable.create(str(tmp_path / "t"), n_buckets=4)
    ingest_changelog(spark, table, log_dir, batch_size=500, merge_mode="cow")
    table.vacuum(keep_last=1, orphan_grace_seconds=0)
    with pytest.raises(ValueError, match="vacuum horizon"):
        audit_table(table, snapshot_id=1)
    assert audit_table(table)["ok"]


def test_max_files_cap_is_reported(audited):
    res = audit_table(audited, max_files=2)
    assert res["checked"]["files"] <= 2
    assert res["checked"]["files_skipped"] > 0
