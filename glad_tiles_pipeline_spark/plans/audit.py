"""Table audit — independent metadata/data consistency verification
(Iceberg ``verify`` / metadata-integrity parity).

A 100 TB table's correctness rests on manifest claims: per-file row
counts, column min/max stats (the S22/S22' pruning levers), key blooms
(S27), positional-delete references (S26), the batch-id fencing index,
and tag/branch pointers.  Every reader TRUSTS those claims — a stats
range that fails to bracket a file's actual values silently prunes live
rows; a bloom with a false negative silently drops a key from point
lookups; a dangling delete-vector reference silently resurrects killed
rows at compaction.  This module re-derives each claim from the data
with an INDEPENDENT implementation (pyarrow footer metadata and pure
Python probes, never the engine's own Spark expressions) and reports
violations, so corruption — a bad copy, a partial restore, bit rot, a
buggy external writer — is caught before it becomes a wrong answer.

Cost model: everything is O(manifest) except the bloom probe, which
reads key columns of bloom-carrying files only — those are ≤16 Ki rows
by construction (functions/hashing.BLOOM_MAX_ROWS), so the deep audit
stays O(metadata + fresh files) on a table of any size.  ``max_files``
bounds the per-file checks for very wide snapshots; a capped audit says
so in its summary rather than implying full coverage.

Findings are ``{"level": "error", "code": ..., "detail": ...}`` — an
empty list (and ``ok=True``) is a clean bill.  The audit never mutates
anything.

``audit_changelog`` is the INPUT-side twin: it validates the raw
change-event log against the source contract (FIXTURES.md §2.1) before
the planner trusts it — unique non-null offsets, data/control row shape,
known op vocabularies — so a producer bug (an offset collision from a
mis-sharded writer, an unparseable control payload that would abort an
evolve mid-stream) is caught at the door instead of mid-ingest.
"""

from __future__ import annotations

import os

from glad_tiles_pipeline_spark.plans.lake import LakeTable


def _footer(path: str):
    import pyarrow.parquet as pq

    return pq.ParquetFile(path)


def _footer_min_max(pf, col: str):
    """Actual (min, max) of a column across all row groups, from the
    parquet footer statistics — no data read.  Returns None when any row
    group lacks stats for the column (cannot prove anything)."""
    idx = {pf.schema_arrow.names.index(col)} if col in pf.schema_arrow.names else None
    if idx is None:
        return None
    (ci,) = idx
    lo = hi = None
    meta = pf.metadata
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max:
            return None
        mn, mx = st.min, st.max
        if isinstance(mn, bytes):
            mn = mn.decode("utf-8", "surrogateescape")
        if isinstance(mx, bytes):
            mx = mx.decode("utf-8", "surrogateescape")
        lo = mn if lo is None or mn < lo else lo
        hi = mx if hi is None or mx > hi else hi
    return lo, hi


def audit_table(
    table: LakeTable,
    snapshot_id: "int | None" = None,
    deep: bool = True,
    bloom_sample: int = 32,
    max_files: "int | None" = None,
) -> dict:
    """Audit one snapshot (default: current).  ``deep=False`` skips the
    checks that open parquet footers/data (existence, row counts, stats,
    blooms, dv references) and audits metadata-only invariants (schema
    registry, batch index, tags)."""
    from glad_tiles_pipeline_spark.functions.hashing import (
        bloom_may_contain,
        bloom_positions,
    )

    findings: list[dict] = []
    checked = {"files": 0, "rows": 0, "blooms": 0, "dv_refs": 0,
               "sha_rows": 0, "tags": 0, "files_skipped": 0}

    def err(code: str, detail: str) -> None:
        findings.append({"level": "error", "code": code, "detail": detail})

    m = table.manifest(snapshot_id)
    sid = m["snapshot_id"]
    # a snapshot below the vacuum horizon legitimately lost its data
    # files — auditing it would report expiry as corruption.  Refuse like
    # scan does (tags pin their snapshots above the horizon, so tagged
    # history stays auditable).
    if sid < table.vacuum_horizon():
        raise ValueError(
            f"snapshot v{sid} is below the vacuum horizon "
            f"{table.vacuum_horizon()}; its data files were expired — "
            "audit a retained snapshot"
        )

    # -- schema registry invariants: unique field ids per version, key
    # fields (ids 1 and 2) present in every version (they refuse to drop)
    for ver, fields in m["schemas"].items():
        ids = [f["id"] for f in fields]
        if len(ids) != len(set(ids)):
            err("schema_duplicate_field_id",
                f"schema version {ver} has duplicate field ids: {ids}")
        if not {1, 2} <= set(ids):
            err("schema_missing_key_field",
                f"schema version {ver} lacks a key field (ids {ids})")

    # -- batch-id fencing: the snapshot's own batch id must resolve to it
    # through the (index-backed) lookup every writer fences on
    if m.get("batch_id"):
        got = table.batch_committed(m["batch_id"])
        if got != sid:
            err("batch_index_inconsistent",
                f"batch_committed({m['batch_id']!r}) = {got}, "
                f"manifest says snapshot {sid}")

    # -- tags point at manifests that still exist
    for name, tag_sid in table.tags().items():
        checked["tags"] += 1
        if not table.io.exists(table._manifest_path(tag_sid)):
            err("tag_dangling",
                f"tag {name!r} -> snapshot {tag_sid}, whose manifest "
                "does not exist")

    if not deep:
        return {"ok": not findings, "snapshot_id": sid,
                "findings": findings, "checked": checked}

    files = m["files"]
    audit_files = files if max_files is None else files[:max_files]
    checked["files_skipped"] = len(files) - len(audit_files)

    live_row_files = {
        f["path"] for f in files if f.get("kind") not in ("dv",)
    }
    # the key halves are field ids 1 and 2, wherever they sit in the list
    key_names_by_ver = {
        ver: tuple(
            next(f["name"] for f in fields if f["id"] == fid) for fid in (1, 2)
        )
        for ver, fields in m["schemas"].items()
    }

    for f in audit_files:
        full = os.path.join(table.root, f["path"])
        if not os.path.exists(full):
            err("missing_file", f"{f['path']} (snapshot {sid})")
            continue
        checked["files"] += 1
        try:
            pf = _footer(full)
        except Exception as e:  # corrupt footer
            err("unreadable_footer", f"{f['path']}: {e}")
            continue

        # row count: footer vs manifest claim
        actual_rows = pf.metadata.num_rows
        checked["rows"] += actual_rows
        if actual_rows != f["rows"]:
            err("row_count_mismatch",
                f"{f['path']}: manifest says {f['rows']} rows, "
                f"footer says {actual_rows}")

        # stats must BRACKET the file's actual values (a narrower range
        # prunes live rows — the dangerous direction; wider is only
        # suboptimal).  Checked per recorded column that the file carries.
        for col, (lo, hi) in (f.get("stats") or {}).items():
            actual = _footer_min_max(pf, col)
            if actual is None:
                continue
            amn, amx = actual
            if amn < lo or amx > hi:
                err("stats_out_of_bounds",
                    f"{f['path']}.{col}: recorded [{lo!r}, {hi!r}] does "
                    f"not bracket actual [{amn!r}, {amx!r}]")

        # bloom soundness: every key IN the file must probe positive
        # (false positives are fine — they only cost IO; a false negative
        # loses rows from point lookups)
        if "bloom" in f and f.get("kind") != "dv":
            k1, k2 = key_names_by_ver.get(
                str(f.get("schema_version", 1)),
                next(iter(key_names_by_ver.values())),
            )
            if k1 in pf.schema_arrow.names and k2 in pf.schema_arrow.names:
                tbl = pf.read(columns=[k1, k2])
                n = min(bloom_sample, tbl.num_rows)
                step = max(tbl.num_rows // n, 1) if n else 1
                for i in range(0, n * step, step):
                    r = tbl.slice(i, 1).to_pylist()[0]
                    if r[k1] is None or r[k2] is None:
                        continue
                    checked["blooms"] += 1
                    if not bloom_may_contain(
                        f["bloom"], bloom_positions(r[k1], r[k2])
                    ):
                        err("bloom_false_negative",
                            f"{f['path']}: key ({r[k1]!r}, {r[k2]!r}) is "
                            "in the file but its bloom excludes it")
                        break

        # per-row invariant spot-check: content_sha = sha256(content),
        # recomputed here with hashlib (never the engine's expression) on
        # a bounded prefix of the file — the north-star equality every
        # downstream consumer assumes
        sha_field = content_field = None
        for fld in m["schemas"].get(str(f.get("schema_version", 1)), []):
            if fld.get("source") == "content_sha":
                sha_field = fld["name"]
            if fld.get("source") == "content":
                content_field = fld["name"]
        if (
            sha_field and content_field and f.get("kind") != "dv"
            and {sha_field, content_field} <= set(pf.schema_arrow.names)
        ):
            import hashlib

            for batch in pf.iter_batches(
                batch_size=bloom_sample,
                columns=[content_field, sha_field],
            ):
                for r in batch.to_pylist():
                    c, s = r[content_field], r[sha_field]
                    checked["sha_rows"] += 1
                    want_sha = (
                        hashlib.sha256(c.encode("utf-8")).hexdigest()
                        if isinstance(c, str) else None
                    )
                    if s != want_sha:
                        err("content_sha_mismatch",
                            f"{f['path']}: stored {s!r} != sha256(content) "
                            f"{want_sha!r}")
                        break
                break  # one bounded batch per file

        # delete-vector references: every kill must point at a live row
        # file of the same snapshot (a dangling kill silently resurrects
        # its row once the referenced file is gone)
        if f.get("kind") == "dv":
            refs = {
                r["path"]
                for r in pf.read(columns=["path"]).to_pylist()
            }
            checked["dv_refs"] += len(refs)
            for ref in refs - live_row_files:
                err("dv_dangling_ref",
                    f"{f['path']} kills rows in {ref}, which is not a "
                    f"live row file of snapshot {sid}")

    return {"ok": not findings, "snapshot_id": sid,
            "findings": findings, "checked": checked}


# evolve vocabulary (plans/lake.py evolve()) — a control payload outside it
# would abort the ingest loop mid-stream when the batch routes it
EVOLVE_OPS = ("add_column", "rename_column", "widen_type", "drop_column")
DATA_OPS = ("I", "U", "D")


def audit_changelog(spark, changelog_dir: str, sample: int = 5) -> dict:
    """Validate a raw change-event log against the source contract
    (FIXTURES.md §2.1) before the planner trusts it.

    Error-level findings (``ok=False``):

    * ``offset_null`` / ``offset_duplicate`` — offsets are the log's
      identity: the planner windows by offset range, LWW arbitration
      tie-breaks on offset, and the fencing batch ids are offset-
      addressed.  A collision (mis-sharded producer, a restore replayed
      over live writes) silently double-applies or mis-orders.
    * ``data_missing_key`` / ``data_bad_op`` / ``data_null_commit_seq``
      — a data row (``control IS NULL``) must carry (repo, path), an op
      in I/U/D, and a commit_seq; anything else would be dropped or
      mis-arbitrated downstream without a trace.
    * ``control_invalid`` — a control row whose JSON doesn't parse or
      whose op is outside the evolve vocabulary aborts the ingest loop
      exactly when it reaches the front of a window; catch it at the
      door instead.

    Warning-level findings (reported, ``ok`` unaffected):

    * ``delete_with_content`` — the contract nulls content on deletes;
      a payload here is ignored by the merge path, so it usually means
      the producer meant an update.
    * ``offset_gaps`` — the contract promises unique/monotone, not
      dense; gaps are legal but a sudden one often means lost events,
      so the count is surfaced for the operator to judge.

    Scale shape: ONE aggregation pass over the log — every check is a
    conditional count in the same agg; the only shuffle is the distinct
    count of the slim 8-byte offset column.  The duplicate-offset sample
    (a groupBy-having) runs only after a violation is already proven.
    """
    from pyspark.sql import functions as F

    from glad_tiles_pipeline_spark.sources.changelog import prune_horizon

    # a pruned log (S36) legitimately lost offsets at or below the
    # marker — the gap check must not report retention as loss
    pruned_below = prune_horizon(changelog_dir)

    log = spark.read.parquet(changelog_dir)
    is_ctrl = F.col("control").isNotNull()
    ctrl_op = F.get_json_object("control", "$.op")

    def n(cond) -> "F.Column":
        return F.sum(F.when(cond, 1).otherwise(0))

    # NULL three-valued logic: `~col.isin(...)` is NULL (not True) on a
    # NULL col, and `when(NULL, 1).otherwise(0)` counts 0 — every
    # membership check below must OR an explicit isNull to not let a
    # NULL op / unparseable control slip through as "fine"
    r = log.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("offset").alias("distinct_offsets"),
        F.countDistinct(
            F.when(F.col("offset") > pruned_below, F.col("offset"))
        ).alias("distinct_above_prune"),
        F.min("offset").alias("lo"),
        F.max("offset").alias("hi"),
        n(F.col("offset").isNull()).alias("null_offset"),
        n(~is_ctrl & (F.col("repo").isNull()
                      | F.col("path").isNull())).alias("missing_key"),
        n(~is_ctrl & (F.col("op").isNull()
                      | ~F.col("op").isin(*DATA_OPS))).alias("bad_op"),
        n(~is_ctrl & F.col("commit_seq").isNull()).alias("null_seq"),
        n(is_ctrl & (ctrl_op.isNull()
                     | ~ctrl_op.isin(*EVOLVE_OPS))).alias("bad_control"),
        n((F.col("op") == "D")
          & F.col("content").isNotNull()).alias("del_content"),
        n(is_ctrl).alias("control_rows"),
    ).collect()[0]

    findings: list[dict] = []

    def err(code: str, detail: str) -> None:
        findings.append({"level": "error", "code": code, "detail": detail})

    def warn(code: str, detail: str) -> None:
        findings.append({"level": "warning", "code": code, "detail": detail})

    if r["null_offset"]:
        err("offset_null", f"{r['null_offset']} row(s) with NULL offset")
    dupes = (r["rows"] - r["null_offset"]) - r["distinct_offsets"]
    if dupes > 0:
        offenders = [
            row["offset"]
            for row in log.filter(F.col("offset").isNotNull())
            .groupBy("offset").count()
            .filter(F.col("count") > 1).limit(sample).collect()
        ]
        err("offset_duplicate",
            f"{dupes} extra row(s) on duplicated offsets; "
            f"e.g. offsets {offenders}")
    if r["missing_key"]:
        err("data_missing_key",
            f"{r['missing_key']} data row(s) with NULL repo or path")
    if r["bad_op"]:
        bad = [
            row["op"] for row in log.filter(
                ~is_ctrl & (F.col("op").isNull()
                            | ~F.col("op").isin(*DATA_OPS))
            ).select("op").distinct().limit(sample).collect()
        ]
        err("data_bad_op",
            f"{r['bad_op']} data row(s) with op outside {DATA_OPS}: {bad}")
    if r["null_seq"]:
        err("data_null_commit_seq",
            f"{r['null_seq']} data row(s) with NULL commit_seq")
    if r["bad_control"]:
        bad = [
            row["control"] for row in log.filter(
                is_ctrl & (ctrl_op.isNull() | ~ctrl_op.isin(*EVOLVE_OPS))
            ).select("control").distinct().limit(sample).collect()
        ]
        err("control_invalid",
            f"{r['bad_control']} control row(s) unparseable or with op "
            f"outside {EVOLVE_OPS}: {bad}")
    if r["del_content"]:
        warn("delete_with_content",
             f"{r['del_content']} delete(s) carrying non-NULL content "
             "(ignored by the merge path; producer likely meant U)")
    if r["rows"] and r["lo"] is not None:
        # gap check only ABOVE the prune horizon: retention (S36) removed
        # offsets at or below it on purpose — reporting those as gaps
        # would cry loss over the normal lifecycle
        glo = max(int(r["lo"]), pruned_below + 1)
        gaps = (int(r["hi"]) - glo + 1) - int(r["distinct_above_prune"])
        if gaps > 0:
            warn("offset_gaps",
                 f"{gaps} missing position(s) in [{glo}, {r['hi']}] "
                 "(legal per contract, but a sudden gap often means lost "
                 "events)")

    checked = {
        "rows": int(r["rows"]),
        "control_rows": int(r["control_rows"]),
        "offset_range": (
            [int(r["lo"]), int(r["hi"])] if r["lo"] is not None else None
        ),
    }
    if pruned_below > -1:
        checked["pruned_below"] = pruned_below
    return {
        "ok": not any(f["level"] == "error" for f in findings),
        "findings": findings,
        "checked": checked,
    }
