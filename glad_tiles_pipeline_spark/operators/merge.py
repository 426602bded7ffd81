"""S8 — the idempotent MERGE apply path (SURVEY.md §3 EP-B steps 2–8).

``apply_batch`` takes one offset-window of change events and applies it to a
``LakeTable`` exactly once:

  1. schema evolution — control events in the batch are applied to the table
     metadata BEFORE the merge (BASELINE.json north_star: "schema evolution
     ... applied via schema updates before each MERGE batch");
  2. commit-ordered LWW dedup (skew-immune arg-max by default) → one winning
     event per (repo, path);
  3. vectorized normalize (lang) + sha256 (content): sha is computed on
     WINNERS only (both modes — coalesce against stored values); lang
     normalization runs on batch events (cow, pre-union) or winners (mor),
     and never on live table rows — at 10^10 events this bounds both the
     hashing and the Arrow Python-exchange to O(batch), never O(table);
  4. bucket-pruned merge: only buckets containing a touched key participate
     (custom partition pruning, SURVEY.md §4.1).  Two physical modes:
     ``cow`` rewrites each affected bucket with (surviving ∪ incoming)
     LWW-resolved — read-optimal; ``mor`` appends the winners as per-bucket
     delta files — write cost O(batch), resolution deferred to scan/compact;
  5. atomic manifest commit with snapshot-ID fencing + batch-id idempotence,
     carrying per-bucket lineage, offsets, and rows-applied metrics.

Scale notes:
  * Batch statistics/lineage are computed on slim columns only (~40 B/row
    shuffle); full-width rows cross exactly ONE shuffle per batch — a
    stats-planned repartition by ``__pid`` (see plan_partition_ids) that
    Catalyst reuses for both the dedup group-by (pid ∈ grouping keys ⇒ no
    second exchange) and the partitionBy write.
  * The bucket layout (xxhash64(repo,path) % B) spreads a hot monorepo
    across buckets by path, so a monorepo-heavy batch still fans out across
    the cluster; the dedup aggregate itself is skew-immune (argmax with
    map-side partial agg).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from glad_tiles_pipeline_spark.functions.hashing import (
    BLOOM_MAX_ROWS,
    bloom_positions_expr,
    bucket_col,
    pack_bloom,
)
from glad_tiles_pipeline_spark.functions.text import (
    normalize_lang,
    normalize_lang_expr,
)
from glad_tiles_pipeline_spark.operators.dedup import lww_dedup, lww_dedup_argmax
from glad_tiles_pipeline_spark.plans.lake import LakeTable, _row_schema


# Sentinel ``offsets`` value: commit WITHOUT advancing this table's own
# offset high-water (lo = parent_hi + 1, hi = parent_hi, resolved against
# the TARGET table's parent at apply time).  The requeue path needs this
# for derived sinks: it re-applies events whose offsets sit below the MAIN
# table's high-water, but a LAGGING sink (crash between sinks, catch-up
# not yet run) may never have seen some of those offsets — folding them
# into the sink's monotone channel max (what ``offsets=None`` does) would
# jump the sink past windows it never saw and the generic catch-up would
# skip them forever.  Callers that compose hooks over many tables cannot
# compute per-table no-advance offsets themselves; the sentinel defers
# the resolution to each table's own apply.
NO_ADVANCE = {"no_advance": True}


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


# Columns whose per-file min/max ride the manifest (Iceberg per-file
# column-stats parity): the LWW ordering metadata, so offset/commit_seq
# windows over a snapshot scan can drop whole files without opening them.
_STATS_COLS = ("_commit_seq", "_offset")


def _parquet_meta(path: str, str_cols: tuple[str, ...] = ()) -> tuple[int, dict]:
    """Footer-only read: row count + min/max of the LWW ordering columns
    plus the string columns in ``str_cols`` (the repo key — callers pass
    the field-id-1 name of the version they just wrote, so the stats key
    survives a later rename).  Zero data IO — the stats are aggregated from
    row-group footers the writer already produced; a column missing min/max
    in any row group is simply omitted (readers treat missing stats
    conservatively)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict[str, list] = {}
    for col, coerce in [(c, int) for c in _STATS_COLS] + [
        (c, str) for c in str_cols
    ]:
        ci = names.get(col)
        if ci is None:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                lo = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            stats[col] = [coerce(lo), coerce(hi)]
    return md.num_rows, stats


def _key1_name(m: dict, schema_version) -> str:
    """Name of field id 1 (the repo half of the key) in ``schema_version``
    — what writers pass to ``_parquet_meta`` so repo stats are recorded
    under the physical column name of the files being written."""
    return _key_name(m, schema_version, 1)


def _key_name(m: dict, schema_version, field_id: int) -> str:
    return next(
        f["name"]
        for f in m["schemas"][str(schema_version)]
        if f["id"] == field_id
    )


def plan_partition_ids(
    df: DataFrame,
    bucket_rows: dict[int, int],
    target_partitions: int,
    path_col: str = "path",
) -> tuple[DataFrame, int]:
    """Statistics-driven partition planning (SURVEY.md §4.2).

    Assigns every row a partition id ``__pid`` such that (a) each pid holds
    exactly one bucket (so a ``partitionBy('__bucket')`` write emits one
    file per pid, no cross-partition fan-out), and (b) pids are sized
    ~uniformly by EVENT COUNT: bucket b gets ``splits_b ∝ bucket_rows[b]``
    sub-splits, keyed by hash(path) so a hot monorepo's paths spread across
    them.  Callers size the pid space ~4× the downstream partition count:
    a plain hash ``repartition(P, __pid)`` then fills ~98% of partitions
    with ~4 pids each (bounded Poisson skew) WITHOUT the extra sampling
    scan a ``repartitionByRange`` would cost, and Catalyst recognizes the
    hash partitioning as satisfying any group-by whose keys include
    ``__pid`` — one shuffle serves the dedup aggregate AND the bucketed
    write (each task emits one file per distinct bucket it holds, ~4).

    This replaces naive ``repartition(B, bucket)``, whose hash collisions
    over a SMALL key domain (two buckets → one reducer, 1/e of reducers
    idle) cap stage parallelism regardless of cluster size.  ``__pid`` is
    a pure function of (bucket, path), so every generation of a key lands
    in a consistent group.
    """
    total = sum(bucket_rows.values()) or 1
    splits: dict[int, int] = {}
    offsets: dict[int, int] = {}
    off = 0
    for b in sorted(bucket_rows):
        s = max(1, round(target_partitions * bucket_rows[b] / total))
        splits[b] = s
        offsets[b] = off
        off += s
    if not offsets:
        return df.withColumn("__pid", F.lit(0)), 1
    off_map = F.create_map(
        *[x for b in offsets for x in (F.lit(b), F.lit(offsets[b]))]
    )
    spl_map = F.create_map(
        *[x for b in splits for x in (F.lit(b), F.lit(splits[b]))]
    )
    pid = (
        off_map[F.col("__bucket")]
        + F.pmod(F.xxhash64(F.col(path_col)), spl_map[F.col("__bucket")])
    ).cast("int")
    return df.withColumn("__pid", pid), off


def apply_schema_controls(table: LakeTable, controls: list[dict], batch_id: str) -> int:
    """Apply control-event payloads (JSON schema ops) in offset order."""
    ops = [json.loads(c["control"]) for c in controls]
    if not ops:
        return table.current_snapshot_id()
    return table.evolve(ops, batch_id=f"{batch_id}:evo")


def _collect_bucket_entries(
    root_abs: str,
    root_rel: str,
    *,
    schema_version: int,
    write_gen: int,
    str_cols: tuple,
    kind: str | None = None,
    delta: bool = False,
    with_stats: bool = True,
) -> tuple[list[dict], dict]:
    """Walk one commit directory's ``__bucket=`` partitions into manifest
    file entries + per-bucket lineage.  ``kind`` tags S26 sidecars
    (``tomb`` memos / ``dv`` kill lists); ``with_stats=False`` skips the
    footer stats read for files whose columns aren't table columns.

    This walks the DATA path with ``os.listdir`` on purpose: the
    ManifestIO seam covers table METADATA only (manifests, markers, refs
    — the pieces whose atomicity semantics differ per store).  Data
    files are written by Spark's own committer to whatever filesystem
    the table root names; an object-store data path would swap this
    local walk for a listing of the committer's output manifest, not
    route bulk file IO through ManifestIO."""
    entries: list[dict] = []
    lineage: dict[str, dict] = {}
    for entry in sorted(os.listdir(root_abs)):
        if not entry.startswith("__bucket="):
            continue
        b = int(entry.split("=")[1])
        bdir = os.path.join(root_abs, entry)
        bfiles, rows = [], 0
        for fn in sorted(os.listdir(bdir)):
            if not fn.endswith(".parquet"):
                continue
            rel = os.path.join(root_rel, entry, fn)
            if with_stats:
                r, fstats = _parquet_meta(os.path.join(bdir, fn), str_cols=str_cols)
            else:
                r, fstats = _parquet_rows(os.path.join(bdir, fn)), None
            em = {
                "path": rel, "bucket": b, "schema_version": schema_version,
                "rows": r, "layout_gen": write_gen,
            }
            if fstats:
                em["stats"] = fstats
            if delta:
                em["delta"] = True
            if kind:
                em["kind"] = kind
            entries.append(em)
            bfiles.append(rel)
            rows += r
        lineage[str(b)] = {"files": bfiles, "rows_live": rows}
    return entries, lineage


def _post_write_stats(
    spark: SparkSession, table: LakeTable, entries: list[dict],
    fields: list[dict],
) -> list[dict]:
    """One column-pruned read of the row files a merge-on-read batch just
    wrote (``entries``; dv kill lists carry no keys and are skipped), with
    their known schema, so the read plans without an inference job.  It
    serves two consumers:

    * S27 key blooms: each ELIGIBLE file (rows <= BLOOM_MAX_ROWS —
      per-batch-per-bucket files, O(batch)) gets its bloom attached to its
      manifest entry, so ``lookup`` prunes fresh (uncompacted) delta/tomb
      files by exact key before key-clustered compaction gives path min/max
      stats teeth.  Probe positions are pure JVM exprs; the driver packs at
      most 8 KiB per file.  Big files skip the bloom: their pruning story is
      clustered stats, and an over-capacity bloom is dead manifest weight.
    * exact batch stats: the returned per-bucket ``winners`` / ``deleted``
      / ``n_events`` rows, read back from the winner rows (~30 B each)
      instead of a second scan of the raw batch."""
    by_path = {
        f["path"]: f for f in entries if f.get("kind") != "dv" and f["rows"] > 0
    }
    if not by_path:
        return []
    keys = sorted((f for f in fields if f["id"] in (1, 2)), key=lambda f: f["id"])
    elig = [p for p, f in by_path.items() if f["rows"] <= BLOOM_MAX_ROWS]
    src = spark.read.schema(_row_schema(keys)).parquet(
        *[os.path.join(table.root, p) for p in by_path]
    )
    per_file = (
        src.withColumn("__f", table._rel_path_expr())
        .groupBy("__f")
        .agg(
            F.count("*").alias("winners"),
            F.sum(F.col("_deleted").cast("long")).alias("deleted"),
            F.sum("_n_src_events").alias("n_events"),
            F.array_distinct(F.flatten(F.collect_list(
                F.when(
                    F.col("__f").isin(elig),
                    bloom_positions_expr(keys[0]["name"], keys[1]["name"]),
                )
            ))).alias("ps"),
        )
        .collect()
    )
    stats: dict[int, dict] = {}
    for r in per_file:
        f = by_path[r["__f"]]
        if f["rows"] <= BLOOM_MAX_ROWS:
            f["bloom"] = pack_bloom(r["ps"])
        s = stats.setdefault(f["bucket"], {
            "__bucket": f["bucket"], "winners": 0, "deleted": 0, "n_events": 0,
        })
        s["winners"] += r["winners"]
        s["deleted"] += r["deleted"] or 0
        s["n_events"] += r["n_events"] or 0
    return [stats[b] for b in sorted(stats)]


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    batch_id: str,
    *,
    dedup_strategy: str = "argmax",
    use_arrow_udfs: bool = True,
    offsets: dict | None = None,
    merge_mode: str = "cow",
    source: str = "default",
) -> dict:
    """Apply one micro-batch of change events exactly once.  Returns a
    summary dict (snapshot_id, metrics).  Re-invocation with a committed
    batch_id is a no-op (idempotent replay).

    ``use_arrow_udfs`` (default True — the surface the spec mandates):
    lang normalization runs through the Arrow-vectorized pandas UDF,
    batch-at-a-time, never per-row Python.  False opts into the provably
    equivalent JVM expression twin (tests/test_functions.py asserts
    equality), which stays inside whole-stage codegen and skips the Python
    exchange (~16% faster end-to-end in round-1 measurements) — offered as
    the opt-in fast path for deployments that don't need the UDF surface.

    ``source`` names the offset channel this batch consumed from (S29
    multi-writer): the commit advances only that channel's high-water, so
    concurrent writers tailing different changelogs never move each
    other's resume point.  Single-writer callers keep the implicit
    ``default`` channel and see no behavior change.
    """
    t_start = time.perf_counter()
    already = table.batch_committed(batch_id)
    if already is not None:
        return {"snapshot_id": already, "batch_id": batch_id, "skipped": True}

    # -- 1. schema evolution first (control events are rare; collect is tiny)
    # (sorted on the driver: a Spark-side orderBy costs a sampling job)
    controls = sorted(
        (
            r.asDict()
            for r in events.filter(F.col("control").isNotNull())
            .select("offset", "control")
            .collect()
        ),
        key=lambda c: c["offset"],
    )
    if controls:
        apply_schema_controls(table, controls, batch_id)
    data_events = events.filter(F.col("control").isNull())

    expected_parent = table.current_snapshot_id()
    parent_manifest = table.manifest(expected_parent)
    fields = table.current_fields()
    write_gen, n_buckets = table.write_layout()
    if merge_mode in ("cow", "mor_dv") and table.migration() is not None:
        # CoW prunes the live scan by bucket id and replaces whole buckets —
        # both ambiguous while two layout generations are live; mor_dv's
        # write-time arbitration does a bucket-pruned live read with the
        # same ambiguity (and its kills reference files a rebucket step may
        # retire).  MoR appends pure deltas (routed under the new layout)
        # and is exact throughout.
        raise ValueError(
            f"{merge_mode} ingest during an active re-bucketing migration "
            "is unsupported; ingest with merge_mode='mor' until the "
            "migration finishes"
        )
    key_names = [f["name"] for f in fields if f["id"] in (1, 2)]  # repo, path ids
    target_parts = max(2 * spark.sparkContext.defaultParallelism, 1)

    # -- 2. Per-bucket statistics.  Two regimes:
    #       * cow needs the affected-bucket set BEFORE the merge (it prunes
    #         the live scan to those buckets), so it runs a SLIM pre-pass:
    #         argmax over (repo, path, commit_seq, offset, op) only —
    #         ~40 B/row through the shuffle, never ``content``
    #         (SURVEY.md §4.2 layout note).
    #       * mor needs no pre-pass at all: partition planning uses the
    #         PARENT snapshot's per-bucket event distribution (steady-state
    #         streams are self-similar batch to batch; uniform on the first
    #         batch), and exact batch stats are recovered after the write by
    #         re-reading only the tiny system columns of the files just
    #         written.  A mor batch therefore runs exactly two heavy stages:
    #         map (scan+shuffle) and reduce (dedup+sha+write).
    if merge_mode == "cow":
        slim = lww_dedup_argmax(
            data_events.select("repo", "path", "commit_seq", "offset", "op"),
            key=["repo", "path"],
            count_col="__n_events",
        ).withColumn("__bucket", bucket_col(n_buckets))
        bucket_stats = (
            slim.groupBy("__bucket")
            .agg(
                F.count("*").alias("winners"),
                F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("deleted"),
                F.sum("__n_events").alias("n_events"),
            )
            .collect()
        )
        affected = {r["__bucket"] for r in bucket_stats}
        bucket_rows = {
            int(r["__bucket"]): int(r["n_events"] or r["winners"])
            for r in bucket_stats
        }
    elif merge_mode in ("mor", "mor_dv"):
        pm = parent_manifest.get("metrics") or {}
        # the parent's per-bucket distribution only transfers if it was
        # recorded under the SAME write layout — after a rebucket start the
        # old generation's ids would mis-size the new layout's partitions
        if int(pm.get("bucket_rows_gen", 1)) == write_gen:
            hist = pm.get("bucket_rows") or {}
        else:
            hist = {}
        bucket_rows = {int(k): max(int(v), 1) for k, v in hist.items()}
        # every bucket needs a pid mapping: a bucket quiet last batch but
        # hot now would otherwise map to NULL __pid and serialize all its
        # rows onto one reducer
        for b in range(n_buckets):
            bucket_rows.setdefault(b, 1)
    else:
        raise ValueError(f"unknown merge_mode: {merge_mode}")

    # -- 3. project raw events → current table schema + system columns,
    #       BEFORE any dedup.  Pure per-row column expressions (codegen):
    #       field-id projection, delete null-out.  The EXPENSIVE derivations
    #       — sha256 and lang normalization — are DEFERRED to post-dedup so
    #       they run on winners only: at 10^10 events this is the difference
    #       between hashing every event and hashing every surviving key (and
    #       for the Arrow UDF, between shipping every event or only winners
    #       across the Python exchange).  Deletes become tombstone rows
    #       (payload NULL, _deleted=true): the table must remember a winning
    #       delete's commit order, or a still-older event arriving in a
    #       later batch would resurrect the key.
    is_del = F.col("op") == "D"
    proj = []
    for f in fields:
        src = f.get("source")
        if f["id"] == 1:
            proj.append(F.col("repo").cast(f["type"]).alias(f["name"]))
        elif f["id"] == 2:
            proj.append(F.col("path").cast(f["type"]).alias(f["name"]))
        elif src is not None and src in data_events.columns:
            expr = F.when(is_del, F.lit(None)).otherwise(F.col(src))
            proj.append(expr.cast(f["type"]).alias(f["name"]))
        else:
            # content_sha (computed post-dedup) and added-by-evolution
            # columns land here as typed NULLs
            proj.append(F.lit(None).cast(f["type"]).alias(f["name"]))
    incoming_raw = data_events.withColumn("__bucket", bucket_col(n_buckets)).select(
        *proj,
        F.col("commit_seq").alias("_commit_seq"),
        F.col("offset").alias("_offset"),
        is_del.alias("_deleted"),
        F.col("__bucket"),
    )

    # locate the derived fields through any renames (stable sources).
    # content_sha is filled post-dedup via coalesce, so live CoW rows keep
    # their stored sha and only event winners are hashed.  lang is
    # normalized on EVENT rows only, never on live rows: an Arrow UDF under
    # a when() still ships every input row across the Python exchange, so
    # CoW applies it in the event projection (O(batch events), pre-union)
    # and MoR post-dedup (O(winners)) — live rows are already canonical
    # (idempotence asserted by tests/test_functions.py as a safety net).
    sha_field = next((f for f in fields if f.get("source") == "content_sha"), None)
    content_field = next((f for f in fields if f.get("source") == "content"), None)
    lang_field = next((f for f in fields if f.get("source") == "lang"), None)

    def _normalize_lang_col(df: DataFrame) -> DataFrame:
        if lang_field is None:
            return df
        lang_norm = (
            normalize_lang(F.col(lang_field["name"]))
            if use_arrow_udfs
            else normalize_lang_expr(lang_field["name"])
        )
        return df.withColumn(
            lang_field["name"],
            F.when(~F.col("_deleted"), lang_norm).cast(lang_field["type"]),
        )

    def _fill_sha(df: DataFrame) -> DataFrame:
        if sha_field is None or content_field is None:
            return df
        return df.withColumn(
            sha_field["name"],
            F.coalesce(
                F.col(sha_field["name"]),
                F.when(
                    ~F.col("_deleted"), F.sha2(F.col(content_field["name"]), 256)
                ),
            ),
        )

    # -- 4. bucket-pruned LWW merge.  Both modes move full-width content
    #       through exactly ONE stats-planned shuffle (plan_partition_ids):
    #       the dedup aggregate reuses the repartition's hash partitioning
    #       (pid ∈ grouping keys ⇒ no second exchange) and the partitionBy
    #       write emits straight out of the aggregate.
    dedup_strategy_eff = (
        dedup_strategy if dedup_strategy != "semijoin" else "argmax"
    )
    if merge_mode == "cow":
        # Copy-on-write: rewrite every affected bucket with the LWW winner
        # per key.  Read-optimal (scan needs no resolution), write cost
        # O(affected table data) per batch.  Raw events and live rows are
        # resolved in ONE combined dedup — round 1 shuffled event content
        # twice (batch-winners shuffle, then live∪winners shuffle); now the
        # union is the only wire crossing (plan gate:
        # tests/test_plan_shapes.py::test_cow_merge_plan_has_single_exchange).
        live = table.scan(spark, buckets=affected, include_system=True).withColumn(
            "__bucket", bucket_col(n_buckets, key_names[0], key_names[1])
        )
        live_rows: dict[int, int] = {}
        for fmeta in parent_manifest["files"]:
            if fmeta["bucket"] in affected:
                live_rows[fmeta["bucket"]] = (
                    live_rows.get(fmeta["bucket"], 0) + fmeta.get("rows", 0)
                )
        cow_rows = {
            b: bucket_rows.get(b, 0) + live_rows.get(b, 0) for b in affected
        }
        # live rows carry their stored _n_src_events; raw events count 1
        # each.  Normalize lang HERE — on batch events only, before the
        # union — so live rows never cross the Arrow exchange.
        incoming_cow = _normalize_lang_col(
            incoming_raw.withColumn("_n_src_events", F.lit(1).cast("long"))
        )
        merged, _n_cow_pids = plan_partition_ids(
            live.unionByName(incoming_cow),
            cow_rows,
            4 * target_parts,
            path_col=key_names[1],
        )
        merged = merged.repartition(target_parts, F.col("__pid"))
        new_data = _fill_sha(
            lww_dedup(
                merged,
                key=["__pid", "__bucket"] + key_names,
                strategy=dedup_strategy_eff,
                order=["_commit_seq", "_offset"],
            ).drop("__pid")
        )
    elif merge_mode in ("mor", "mor_dv"):
        # Merge-on-read: append this batch's winners as per-bucket delta
        # files — write cost O(batch), never O(table).  Readers (scan) and
        # the compactor resolve the LWW arg-max across generations; the
        # answer is identical to CoW because (commit_seq, offset) is a total
        # order.  This is the 10^10-events/day ingest path; compact()
        # restores read-optimal layout asynchronously.  The argmax path
        # folds the per-key pre-dedup event count into the same
        # HashAggregate (``_n_src_events``), which the post-write stats
        # read back.  mor_dv shares the winner computation, then arbitrates
        # against the live table at write time (S26, below).
        src_events, _n_pids = plan_partition_ids(
            incoming_raw, bucket_rows, 4 * target_parts, path_col=key_names[1]
        )
        src_events = src_events.repartition(target_parts, F.col("__pid"))
        dedup_key = ["__pid", "__bucket"] + key_names
        if dedup_strategy == "argmax":
            winners = lww_dedup_argmax(
                src_events,
                key=dedup_key,
                order=["_commit_seq", "_offset"],
                count_col="_n_src_events",
            ).drop("__pid")
        else:
            winners = (
                lww_dedup(
                    src_events,
                    key=dedup_key,
                    strategy=dedup_strategy,
                    order=["_commit_seq", "_offset"],
                )
                .drop("__pid")
                .withColumn("_n_src_events", F.lit(None).cast("long"))
            )
        new_data = _fill_sha(_normalize_lang_col(winners))
    else:
        raise ValueError(f"unknown merge_mode: {merge_mode}")

    _m_now = table.manifest(None)
    schema_version = _m_now["schema_version"]
    _key1 = _key1_name(_m_now, schema_version)
    _key2 = _key_name(_m_now, schema_version, 2)
    n_kills = 0

    if merge_mode == "mor_dv":
        # -- S26: positional-delete merge-on-read (Iceberg v2 parity).
        #    Arbitrate the batch winners against the CURRENT live state at
        #    write time, then publish three kinds of files:
        #      * data — winners that won and aren't deletes (live rows);
        #      * tomb — delete winners as full-schema tombstone MEMOS,
        #        read by future merges/compactions (a still-older late
        #        event must keep losing to a winning delete) but never by
        #        resolved readers;
        #      * dv — (path, pos) kill lists for the superseded live rows.
        #    Resolved scans then need NO LWW shuffle at all: data files
        #    hold exactly one live version per key, and the kills are a
        #    broadcast anti-join (plan gate: tests/test_mor_dv.py).
        #    Write cost: one SLIM read of the affected buckets (keys +
        #    ordering + positions, ~60 B/row — never content) — the price
        #    Iceberg v2 pays to locate positions, traded for
        #    resolution-free reads between compactions.
        #
        #    Plan shape (the round-5 rewrite): the arbitration join runs on
        #    a SLIM projection of the batch winners — key + LWW ordering +
        #    bucket, never content — so the only full-width shuffle in the
        #    whole batch remains the planned __pid repartition above.  The
        #    verdict (which batch rows lost to a strictly-newer live row)
        #    comes back as a LOSER key set, applied to the cached winners
        #    via a broadcast anti-join: losers are late arrivals that lost,
        #    bounded by the BATCH key count (never the table), and zero on
        #    an in-order stream — where the anti-join is skipped outright.
        #    The earlier spelling joined the full-width winners against the
        #    live argmax directly, which reshuffled content a second time
        #    per batch and re-derived the dedup for every downstream action;
        #    measured 6× slower than mor at 2M events/4 batches.
        new_data = new_data.persist()
        affected_dv = {
            r["__bucket"]
            for r in new_data.select("__bucket").distinct().collect()
        }
        existing = table.scan(
            spark, buckets=affected_dv, include_system=True,
            with_positions=True,
        ).select(
            F.col(_key1), F.col(_key2),
            F.col("_commit_seq").alias("__e_cs"),
            F.col("_offset").alias("__e_off"),
            "__fp", "__pos",
        )
        e_max = lww_dedup_argmax(
            existing, key=[_key1, _key2], order=["__e_cs", "__e_off"]
        )
        slim_new = new_data.select(
            *key_names, "_commit_seq", "_offset", "__bucket"
        )
        decide = slim_new.join(e_max, key_names, "left").persist()
        _won_cond = F.col("__e_cs").isNull() | (
            F.struct(F.col("_commit_seq"), F.col("_offset"))
            > F.struct(
                F.col("__e_cs").alias("_commit_seq"),
                F.col("__e_off").alias("_offset"),
            )
        )
        kills = decide.filter(
            _won_cond & F.col("__fp").isNotNull()
        ).select(
            F.col("__fp").alias("path"), F.col("__pos").alias("pos"),
            F.col("__bucket"),
        )
        data_abs, data_rel = table.new_data_dir()
        tomb_abs, tomb_rel = table.new_data_dir()
        dv_abs, dv_rel = table.new_data_dir()
        # kills and tombstone memos are tiny relative to the batch (kills
        # are slim (path,pos) pairs; memos are the delete fraction), but a
        # naive partitionBy write fans them out to tasks×buckets files —
        # 30-row parquet files whose footers dominate every later write-time
        # arbitration scan.  One cheap shuffle each (bounded by the kill /
        # delete count, never the batch) packs them to one file per bucket
        # per batch, which keeps the live-state read O(useful bytes).
        kills.repartition("__bucket").write.partitionBy("__bucket").parquet(
            dv_abs, mode="append"
        )
        losers = decide.filter(~_won_cond).select(*key_names)
        n_lost = losers.count()  # cheap: decide is cached and slim
        if n_lost == 0:
            # in-order stream (or first batch): every batch winner won
            out_rows = new_data
        else:
            out_rows = new_data.join(
                F.broadcast(losers), key_names, "left_anti"
            )
        out_rows.filter(~F.col("_deleted")).write.partitionBy(
            "__bucket"
        ).parquet(data_abs, mode="append")
        out_rows.filter(F.col("_deleted")).repartition(
            "__bucket"
        ).write.partitionBy("__bucket").parquet(tomb_abs, mode="append")
        decide.unpersist()
        new_data.unpersist()
        new_files, lineage = _collect_bucket_entries(
            data_abs, data_rel, schema_version=schema_version,
            write_gen=write_gen, str_cols=(_key1, _key2),
        )
        tomb_files, tomb_lineage = _collect_bucket_entries(
            tomb_abs, tomb_rel, schema_version=schema_version,
            write_gen=write_gen, str_cols=(_key1, _key2), kind="tomb",
        )
        dv_files, _dv_lineage = _collect_bucket_entries(
            dv_abs, dv_rel, schema_version=schema_version,
            write_gen=write_gen, str_cols=(), kind="dv", with_stats=False,
        )
        new_files += tomb_files
        bucket_stats = _post_write_stats(spark, table, new_files, fields)
        new_files += dv_files
        for b, frag in tomb_lineage.items():
            lineage.setdefault(b, {"files": [], "rows_live": 0})
            lineage[b]["tombstones"] = frag["rows_live"]
            lineage[b]["files"] = lineage[b]["files"] + frag["files"]
        n_kills = sum(f["rows"] for f in dv_files)
    else:
        # new_data is already hash-partitioned by __bucket (the one
        # shuffle), so partitionBy splits cleanly into one file per bucket
        # per partition.
        data_abs, data_rel = table.new_data_dir()
        new_data.write.partitionBy("__bucket").parquet(data_abs, mode="append")

        # -- 5. manifest: new files per bucket, lineage, metrics, commit
        new_files, lineage = _collect_bucket_entries(
            data_abs, data_rel, schema_version=schema_version,
            write_gen=write_gen, str_cols=(_key1, _key2),
            delta=(merge_mode == "mor"),
        )

        if merge_mode == "mor":
            bucket_stats = _post_write_stats(spark, table, new_files, fields)

    n_winners = sum(r["winners"] for r in bucket_stats)
    n_deletes = sum(r["deleted"] or 0 for r in bucket_stats)
    events_read = sum(r["n_events"] or 0 for r in bucket_stats)
    if events_read == 0 and n_winners > 0:
        # non-argmax strategies don't carry _n_src_events — one extra count
        events_read = data_events.count()
    for r in bucket_stats:
        lineage.setdefault(str(r["__bucket"]), {}).update(
            {
                "rows_applied": r["winners"] - (r["deleted"] or 0),
                "rows_deleted": r["deleted"] or 0,
            }
        )

    if offsets is not None and offsets.get("no_advance"):
        # NO_ADVANCE sentinel: resolve "don't move MY high-water" against
        # THIS table's parent (a requeue hook fans one event set out to
        # sinks at different high-waters — see the constant's docstring).
        prev_hi = table.manifest(expected_parent)["offsets"]["hi"]
        offsets = {"lo": prev_hi + 1, "hi": int(prev_hi)}
    elif offsets is None:
        # rare path (planner and stream bridge both pass offsets): the
        # committed high-water mark must cover EVERY consumed offset, not
        # just LWW winners — a losing/control event can hold the batch max,
        # and undershooting hi makes the next resume re-read the tail.
        # Never REGRESS below the parent's hi either: re-applying old
        # events (a requeue, a replay) was still consumption — a regressed
        # verbatim scalar would widen every derived-sink catch-up into a
        # full re-feed (last_committed_offset reads this verbatim).
        prev_hi = table.manifest(expected_parent)["offsets"]["hi"]
        batch_hi = events.agg(F.max("offset").alias("m")).collect()[0]["m"]
        offsets = {"lo": prev_hi + 1,
                   "hi": max(int(prev_hi),
                             int(batch_hi if batch_hi is not None
                                 else prev_hi))}
    metrics = {
        "events_read": events_read,
        "control_events": len(controls),
        "winners": int(n_winners),
        "dupes_dropped": events_read - int(n_winners),
        "deletes_requested": int(n_deletes),
        "buckets_rewritten": len(affected) if merge_mode == "cow" else 0,
        # S26: live rows superseded by this batch, recorded as positional
        # kills.  Under mor_dv, "winners" counts rows that actually WON
        # write-time arbitration (a late batch-winner losing to a newer
        # stored row is applied as nothing — correct, and visible here).
        "position_kills": int(n_kills),
        "merge_mode": merge_mode,
        # per-bucket event distribution — next batch's partition planner
        # reads this instead of pre-scanning its input (mor path)
        "bucket_rows": {
            str(r["__bucket"]): int(r["n_events"] or r["winners"])
            for r in bucket_stats
        },
        "bucket_rows_gen": write_gen,
        # this call's own wall time up to the commit — what report()
        # computes throughput from
        "apply_ms": round((time.perf_counter() - t_start) * 1000, 1),
    }
    snapshot_id = table.commit(
        batch_id=batch_id,
        expected_parent=expected_parent,
        replaced_buckets=affected if merge_mode == "cow" else set(),
        new_files=new_files,
        offsets=offsets,
        lineage=lineage,
        metrics=metrics,
        source=source,
    )
    return {"snapshot_id": snapshot_id, "batch_id": batch_id,
            "skipped": False, "metrics": metrics}


def plan_compaction(
    table: LakeTable,
    max_delta_files: int = 4,
    max_buckets: int | None = None,
) -> set[int]:
    """Background-maintenance policy (Iceberg binpack-selection parity):
    pick the buckets whose merge-on-read delta-file count exceeds
    ``max_delta_files`` — the read-amplification signal — worst first,
    capped at ``max_buckets`` per round so each compaction stays O(step)
    and the maintenance loop can run continuously beside ingest.  Pure
    manifest arithmetic (no data IO); feed the result to
    ``compact(spark, table, buckets=...)``.  At 10^10 events/day this is
    the policy that keeps scan cost bounded without ever rewriting a cold
    bucket."""
    counts: dict[int, int] = {}
    for f in table.manifest(None)["files"]:
        # read-amplification signal: LWW delta files (mor) AND the S26
        # sidecars (mor_dv tomb memos / dv kill lists — each uncompacted
        # batch adds a broadcast-side kill file to every resolved scan)
        if f.get("delta") or f.get("kind") in ("tomb", "dv"):
            counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
    worst = sorted(
        (b for b, n in counts.items() if n > max_delta_files),
        key=lambda b: -counts[b],
    )
    if max_buckets is not None:
        worst = worst[:max_buckets]
    return set(worst)


def compact(
    spark: SparkSession,
    table: LakeTable,
    buckets: set[int] | None = None,
    batch_id: str | None = None,
    cluster_by_key: bool = False,
    target_file_rows: int | None = None,
    zorder_by: "tuple[str, str] | None" = None,
) -> dict:
    """Rewrite merge-on-read buckets to one LWW-resolved generation per key.

    Restores read-optimal layout after a run of ``merge_mode='mor'``
    batches; tombstones are RETAINED (a still-older late event in a future
    batch must keep losing to a winning delete).  Idempotent via batch_id;
    fenced like any other commit.  At scale this runs asynchronously,
    bucket-subset at a time — each bucket's rewrite is independent.

    ``cluster_by_key=True`` (Iceberg sort-order compaction parity) range-
    partitions + sorts the winners by (bucket, repo, path) before the
    write, and ``target_file_rows`` caps rows per output file — together
    they produce files whose per-file repo min/max ranges are NARROW, so
    the S22' repo-stats pruning in ``scan(repos=...)`` opens O(1) files
    per repo instead of every file of the key's bucket.  Cost: one extra
    shuffle of the winners (plus the range partitioner's sampling pass —
    the winners are persisted across it, bounded by the bucket subset
    being compacted); ingest hot-path cost is unchanged because
    clustering only ever runs inside this background rewrite.  Skew-safe:
    the range partitioner splits on sampled row counts, so a hot monorepo
    spans several range partitions instead of hot-spotting one.

    ``zorder_by=(dim1, dim2)`` (Delta ``OPTIMIZE ZORDER BY`` parity,
    mutually exclusive with ``cluster_by_key``) clusters by a Morton
    curve over two dimensions instead of one sort order — string dims are
    range-ranked against sampled boundaries, numeric dims (including the
    ``_offset`` / ``_commit_seq`` system columns) min-max scaled from the
    manifest stats — so BOTH per-file stat ranges come out narrow and a
    combined predicate (e.g. ``scan(repos=[r], offset_range=w)``) prunes
    multiplicatively through the unchanged S22/S22' machinery
    (functions/zorder.py for the expression shapes; everything stays in
    codegen, the boundary collect is metadata-scale)."""
    if cluster_by_key and zorder_by is not None:
        raise ValueError("pass cluster_by_key or zorder_by, not both")
    if table.migration() is not None:
        # bucket ids are ambiguous across the two live layout generations;
        # the rebucket step already LWW-compacts what it rewrites
        raise ValueError(
            "compact during an active re-bucketing migration is "
            "unsupported; finish the migration (rebucket_step until done) "
            "and compact then"
        )
    unresolved = table.unresolved_buckets()
    targets = unresolved if buckets is None else set(buckets) & unresolved
    if not targets:
        return {"skipped": True, "compacted_buckets": 0,
                "snapshot_id": table.current_snapshot_id()}
    expected_parent = table.current_snapshot_id()
    if batch_id is None:
        batch_id = f"compact-p{expected_parent}"
    already = table.batch_committed(batch_id)
    if already is not None:
        return {"skipped": True, "compacted_buckets": 0, "snapshot_id": already}

    fields = table.current_fields()
    key_names = [f["name"] for f in fields if f["id"] in (1, 2)]
    write_gen, n_buckets = table.write_layout()
    raw = table.scan(spark, buckets=targets, include_system=True).withColumn(
        "__bucket", bucket_col(n_buckets, key_names[0], key_names[1])
    )
    # one stats-planned shuffle feeds both the LWW resolution group-by and
    # the partitionBy write (see plan_partition_ids)
    bucket_rows: dict[int, int] = {}
    for fmeta in table.manifest(expected_parent)["files"]:
        if fmeta["bucket"] in targets:
            bucket_rows[fmeta["bucket"]] = (
                bucket_rows.get(fmeta["bucket"], 0) + fmeta.get("rows", 0)
            )
    target_parts = max(2 * spark.sparkContext.defaultParallelism, len(targets), 1)
    raw, _n_pids = plan_partition_ids(
        raw, bucket_rows, 4 * target_parts, path_col=key_names[1]
    )
    resolved = lww_dedup(
        raw.repartition(target_parts, F.col("__pid")),
        key=["__pid", "__bucket"] + key_names,
        strategy="argmax",
        order=["_commit_seq", "_offset"],
    ).drop("__pid")

    pinned = None
    if cluster_by_key:
        pinned = resolved.persist()  # one materialization feeds the range
        # partitioner's sample pass AND the write (no dedup recompute)
        resolved = pinned.repartitionByRange(
            target_parts, "__bucket", *key_names
        ).sortWithinPartitions("__bucket", *key_names)
    elif zorder_by is not None:
        from glad_tiles_pipeline_spark.functions.zorder import (
            interleave_bits,
            numeric_rank,
            string_boundaries,
            string_rank,
        )

        pinned = resolved.persist()  # feeds boundary/min-max passes, the
        # range partitioner's sample pass AND the write
        ranks = []
        for dim in zorder_by:
            dtype = dict(pinned.dtypes).get(dim)
            if dtype is None:
                raise ValueError(f"zorder_by: no such column {dim!r}")
            if dtype == "string":
                ranks.append(
                    string_rank(F.col(dim), string_boundaries(pinned, dim))
                )
            else:
                row = pinned.agg(
                    F.min(dim).alias("lo"), F.max(dim).alias("hi")
                ).collect()[0]
                ranks.append(
                    numeric_rank(F.col(dim), row["lo"] or 0, row["hi"] or 0)
                )
        z = interleave_bits(ranks[0], ranks[1])
        resolved = (
            pinned.withColumn("__z", z)
            .repartitionByRange(target_parts, "__bucket", "__z")
            .sortWithinPartitions("__bucket", "__z")
            .drop("__z")
        )

    data_abs, data_rel = table.new_data_dir()
    writer = resolved.write
    if target_file_rows is not None:
        writer = writer.option("maxRecordsPerFile", int(target_file_rows))
    writer.partitionBy("__bucket").parquet(data_abs, mode="append")
    _m_now = table.manifest(None)
    schema_version = _m_now["schema_version"]
    _key1 = _key1_name(_m_now, schema_version)
    _key2 = _key_name(_m_now, schema_version, 2)
    new_files, lineage = _collect_bucket_entries(
        data_abs, data_rel, schema_version=schema_version,
        write_gen=write_gen, str_cols=(_key1, _key2),
    )

    if pinned is not None:
        pinned.unpersist()
    parent_offsets = table.manifest(expected_parent)["offsets"]
    snapshot_id = table.commit(
        batch_id=batch_id,
        expected_parent=expected_parent,
        replaced_buckets=targets,
        new_files=new_files,
        offsets=parent_offsets,
        lineage=lineage,
        metrics={"compacted_buckets": len(targets), "merge_mode": "compact"},
    )
    return {"skipped": False, "compacted_buckets": len(targets),
            "snapshot_id": snapshot_id, "batch_id": batch_id}
