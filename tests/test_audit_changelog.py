"""Changelog audit (plans/audit.py::audit_changelog) — the input-side
integrity gate.

Contract under test: a clean generated log (data + control events)
audits ok with zero error findings; each contract violation — duplicate
offset, NULL offset, bad data op, NULL commit_seq, missing key,
unparseable/unknown control payload — is detected with its specific
code; delete-with-content and offset gaps surface as warnings that do
NOT flip ``ok``; the CLI's ``--audit-changelog`` refuses a corrupt log
at the door (exit 3, nothing applied).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from glad_tiles_pipeline_spark.plans.audit import audit_changelog
from glad_tiles_pipeline_spark.sources.generator import (
    change_log,
    inject_controls,
)

N = 2000


@pytest.fixture(scope="module")
def clean_log(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("chlog_audit")
    path = str(tmp / "log")
    log = inject_controls(
        change_log(spark, N, n_repos=4, paths_per_repo=20),
        {500: json.dumps({"op": "add_column", "name": "size_bytes",
                          "type": "bigint"})},
    )
    log.write.parquet(path)
    return path


def _tamper(spark, clean_log, tmp_path, mutate):
    """Write a mutated copy of the clean log and return its path."""
    out = str(tmp_path / "bad_log")
    mutate(spark.read.parquet(clean_log)).write.parquet(out)
    return out


def test_clean_log_audits_ok(spark, clean_log):
    res = audit_changelog(spark, clean_log)
    assert res["ok"]
    assert res["findings"] == []
    assert res["checked"]["rows"] == N
    assert res["checked"]["control_rows"] == 1
    assert res["checked"]["offset_range"] == [0, N - 1]


def _codes(res, level=None):
    return {f["code"] for f in res["findings"]
            if level is None or f["level"] == level}


def test_duplicate_offset_detected(spark, clean_log, tmp_path):
    bad = _tamper(
        spark, clean_log, tmp_path,
        lambda df: df.union(df.filter(F.col("offset") == 7)),
    )
    res = audit_changelog(spark, bad)
    assert not res["ok"]
    assert "offset_duplicate" in _codes(res, "error")
    # the sample names the colliding position
    (f,) = [f for f in res["findings"] if f["code"] == "offset_duplicate"]
    assert "7" in f["detail"]


def test_duplicate_offset_sample_skips_null_offsets(spark, clean_log, tmp_path):
    bad = _tamper(
        spark, clean_log, tmp_path,
        lambda df: df.union(df.filter(F.col("offset") == 7)).withColumn(
            "offset",
            F.when(F.col("offset").isin(3, 4), F.lit(None)).otherwise(
                F.col("offset")
            ),
        ),
    )
    res = audit_changelog(spark, bad)
    assert {"offset_null", "offset_duplicate"} <= _codes(res, "error")
    (f,) = [f for f in res["findings"] if f["code"] == "offset_duplicate"]
    assert f["detail"].endswith("offsets [7]"), f["detail"]


def test_null_offset_detected(spark, clean_log, tmp_path):
    bad = _tamper(
        spark, clean_log, tmp_path,
        lambda df: df.withColumn(
            "offset",
            F.when(F.col("offset") == 3, F.lit(None)).otherwise(
                F.col("offset")
            ),
        ),
    )
    res = audit_changelog(spark, bad)
    assert not res["ok"]
    assert "offset_null" in _codes(res, "error")


def test_bad_op_and_null_op_detected(spark, clean_log, tmp_path):
    # NULL op on a data row must count too (three-valued isin trap)
    bad = _tamper(
        spark, clean_log, tmp_path,
        lambda df: df.withColumn(
            "op",
            F.when(F.col("offset") == 10, F.lit("X"))
            .when(F.col("offset") == 11, F.lit(None))
            .otherwise(F.col("op")),
        ),
    )
    res = audit_changelog(spark, bad)
    assert not res["ok"]
    (f,) = [f for f in res["findings"] if f["code"] == "data_bad_op"]
    assert "2 data row(s)" in f["detail"]


def test_missing_key_and_null_seq_detected(spark, clean_log, tmp_path):
    bad = _tamper(
        spark, clean_log, tmp_path,
        lambda df: df.withColumn(
            "repo",
            F.when(F.col("offset") == 20, F.lit(None)).otherwise(
                F.col("repo")
            ),
        ).withColumn(
            "commit_seq",
            F.when(F.col("offset") == 21, F.lit(None)).otherwise(
                F.col("commit_seq")
            ),
        ),
    )
    res = audit_changelog(spark, bad)
    assert {"data_missing_key", "data_null_commit_seq"} <= _codes(
        res, "error"
    )


def test_invalid_control_detected(spark, clean_log, tmp_path):
    # one unknown op, one unparseable payload — both are control_invalid
    def mutate(df):
        return df.withColumn(
            "control",
            F.when(F.col("offset") == 30,
                   F.lit('{"op": "explode_table"}'))
            .when(F.col("offset") == 31, F.lit("not json at all"))
            .otherwise(F.col("control")),
        )

    res = audit_changelog(spark, _tamper(spark, clean_log, tmp_path, mutate))
    assert not res["ok"]
    (f,) = [f for f in res["findings"] if f["code"] == "control_invalid"]
    assert "2 control row(s)" in f["detail"]
    assert "explode_table" in f["detail"]


def test_warnings_do_not_fail_the_audit(spark, clean_log, tmp_path):
    # a delete carrying content + a gap in the offset sequence: both
    # surface as warnings, ok stays True
    def mutate(df):
        return df.filter(F.col("offset") != 100).withColumn(
            "content",
            F.when(F.col("op") == "D", F.lit("stray payload")).otherwise(
                F.col("content")
            ),
        )

    res = audit_changelog(spark, _tamper(spark, clean_log, tmp_path, mutate))
    assert res["ok"]
    assert _codes(res, "error") == set()
    assert {"delete_with_content", "offset_gaps"} <= _codes(res, "warning")
    (g,) = [f for f in res["findings"] if f["code"] == "offset_gaps"]
    assert "1 missing position(s)" in g["detail"]


def test_cli_refuses_corrupt_log_at_the_door(spark, clean_log, tmp_path):
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        from ingest import main as ingest_main
    finally:
        sys.path.pop(0)

    bad = _tamper(
        spark, clean_log, tmp_path,
        lambda df: df.union(df.filter(F.col("offset") < 3)),
    )
    table_dir = str(tmp_path / "t")
    rc = ingest_main([
        "--changelog", bad, "--table", table_dir, "--create",
        "--audit-changelog", "--batch-size", "1000",
    ])
    assert rc == 3
    # at-the-door: the table was never created, nothing was applied
    assert not os.path.exists(os.path.join(table_dir, "manifests"))

    # and the clean log sails through the same gate end-to-end
    rc = ingest_main([
        "--changelog", clean_log, "--table", table_dir, "--create",
        "--audit-changelog", "--batch-size", "1000",
    ])
    assert rc == 0
    assert os.path.exists(os.path.join(table_dir, "manifests"))
