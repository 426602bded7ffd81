#!/usr/bin/env python
"""CLI ingest driver — the spark-submit entry point (BASELINE.json
north_rule: "run via spark-submit --py-files on a multi-executor cluster").

Batch mode (default) tails the changelog in fenced offset windows; stream
mode drains it through the Structured Streaming foreachBatch bridge.  Both
are idempotent: re-running after any crash resumes from the checkpoint
manifest / stream checkpoint.

Cluster launch (the package zip comes from scripts/make_pyfiles.py):

    spark-submit --master <cluster> \
        --py-files glad_tiles_pipeline_spark.zip \
        scripts/ingest.py --changelog s3://…/log --table s3://…/table \
        --batch-size 10000000

Local smoke:

    python scripts/ingest.py --changelog /tmp/log --table /tmp/table \
        --create --generate-events 100000 --master "local[8]"
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Direct `python scripts/ingest.py` puts scripts/ on sys.path, not the repo
# root; under spark-submit the package comes from --py-files instead.
try:
    import glad_tiles_pipeline_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--changelog", required=True, help="changelog parquet dir")
    p.add_argument("--table", required=True, help="lake table root dir")
    p.add_argument("--mode", choices=["batch", "stream"], default="batch")
    p.add_argument("--batch-size", type=int, default=1_000_000,
                   help="events per offset window (batch mode)")
    p.add_argument("--max-batches", type=int, default=None)
    p.add_argument("--checkpoint", default=None,
                   help="stream checkpoint dir (stream mode; default <table>/_stream_ckpt)")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--create", action="store_true",
                   help="create the table if missing")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--generate-events", type=int, default=None,
                   help="testing: synthesize this many change events into "
                        "--changelog before ingesting")
    p.add_argument("--dedup-strategy", default="argmax",
                   choices=["argmax", "window", "semijoin"])
    p.add_argument("--merge-mode", default="cow",
                   choices=["cow", "mor", "mor_dv"],
                   help="cow: bucket rewrite per batch (read-optimal); "
                        "mor: LWW delta appends (write-optimal, readers "
                        "resolve); mor_dv: positional-delete appends "
                        "(write-time arbitration, resolution-free reads)")
    p.add_argument("--compact-every", type=int, default=None,
                   help="compact merge-on-read deltas every K batches "
                        "(stream mode: policy-driven — only read-amplified "
                        "buckets, O(step) per round)")
    p.add_argument("--vacuum-keep", type=int, default=None,
                   help="after ingest, expire data files of snapshots older "
                        "than the newest K (manifests/batch history kept)")
    p.add_argument("--use-arrow-udfs", dest="use_arrow_udfs",
                   action=argparse.BooleanOptionalAction, default=True,
                   help="lang normalization via the Arrow pandas UDF "
                        "(default; --no-use-arrow-udfs opts into the "
                        "equivalent JVM expression fast path)")
    p.add_argument("--show-history", action="store_true",
                   help="print the snapshot history after ingest")
    p.add_argument("--rebucket-to", type=int, default=None,
                   help="migrate the table's bucket layout to this width "
                        "before ingesting (phased; interleaves with ingest)")
    p.add_argument("--rebucket-step", type=int, default=None,
                   help="old buckets moved per rebucket step (default: all)")
    p.add_argument("--rollback-to", type=int, default=None,
                   help="roll the table back to this snapshot id before "
                        "ingesting (bad-batch recovery: the rolled-back "
                        "changelog range is re-applied by the same run)")
    p.add_argument("--show-files", action="store_true",
                   help="print the current snapshot's data-file inventory")
    p.add_argument("--audit", action="store_true",
                   help="after all other actions, independently verify the "
                        "current snapshot's manifest claims (file existence, "
                        "row counts, stats bracketing, bloom soundness, "
                        "delete-vector references, batch index, tags) and "
                        "report findings in the summary; derived sinks "
                        "configured this run are audited too; exit 3 on "
                        "any violation")
    p.add_argument("--audit-changelog", action="store_true",
                   help="validate the raw changelog against the source "
                        "contract BEFORE ingesting (unique non-null "
                        "offsets, data/control row shape, known op "
                        "vocabularies); exit 3 without applying anything "
                        "on a violation")
    p.add_argument("--report", action="store_true",
                   help="include an operational rollup of this run's "
                        "lineage + metrics manifests in the summary "
                        "(batch kinds, event totals, events/sec over the "
                        "commit-timestamp span, hottest-bucket skew "
                        "share); derived sinks configured this run are "
                        "reported too, each windowed to its own pre-run "
                        "head; metadata-only, no data files touched")
    p.add_argument("--fast-count", action="store_true",
                   help="report the exact live row count in the summary, "
                        "computed from parquet metadata alone when the "
                        "snapshot is resolved (falls back to a resolved "
                        "scan under outstanding MoR deltas)")
    p.add_argument("--incremental-from", type=int, default=None,
                   help="after ingest, print the row-count of the CDC-out "
                        "change feed since this snapshot id")
    p.add_argument("--branch", default=None,
                   help="stage this ingest on a write-audit-publish branch "
                        "(created at the current main head if missing); "
                        "main readers see nothing until --publish-branch")
    p.add_argument("--publish-branch", default=None,
                   help="fast-forward main to the named branch head "
                        "(metadata-only; refuses non-fast-forward)")
    p.add_argument("--drop-branch", default=None,
                   help="discard a staging branch (audit-reject path)")
    p.add_argument("--compact-after", action="store_true",
                   help="compact merge-on-read deltas once ingest finishes")
    p.add_argument("--cluster-by-key", action="store_true",
                   help="with --compact-after: sort-order rewrite by "
                        "(bucket, repo, path) so repo-stats pruning narrows")
    p.add_argument("--target-file-rows", type=int, default=None,
                   help="with --compact-after: cap rows per output file")
    p.add_argument("--export-to", default=None,
                   help="after all other actions, export the table's "
                        "final snapshot into a fresh self-contained table "
                        "root at this path (files + schema registry + "
                        "resume offsets verbatim) — a checkpoint restore: "
                        "ingest on the clone resumes from the same log "
                        "where this run stopped")
    p.add_argument("--prune-changelog", action="store_true",
                   help="after all other actions, truncate the at-rest "
                        "changelog: delete files wholly below the minimum "
                        "resume point of THIS run's consumers (the table's "
                        "offset channel plus every derived sink), proven "
                        "per file from parquet footers; a horizon marker "
                        "makes any later read below it fail loudly.  Only "
                        "safe when this run's consumers are the log's ONLY "
                        "readers; forfeits rollback-replay below the "
                        "horizon")
    p.add_argument("--create-tag", default=None,
                   help="tag the final snapshot with this name (immutable "
                        "ref; vacuum retains its files)")
    p.add_argument("--signature-index", default=None,
                   help="maintain a near-dup signature index (lake table "
                        "at this root, created if missing) from the same "
                        "ingest: each batch/micro-batch MERGEs into table "
                        "AND index under the same content-addressed id; "
                        "batch mode first catches the index up to the "
                        "table's offset high-water (crash-safe)")
    p.add_argument("--token-index", default=None,
                   help="maintain an inverted token index (lake table at "
                        "this root, created if missing) from the same "
                        "ingest — same hook seam, fencing and catch-up "
                        "story as --signature-index; composable with it "
                        "(each derived sink fences its own batch-id space)")
    p.add_argument("--matview", default=None,
                   help="maintain a per-repo materialized aggregate view "
                        "(lake table at this root, created if missing) from "
                        "the same ingest — pruned group recompute through "
                        "the same hook seam, fencing and catch-up story as "
                        "the derived indexes; aggregates come from "
                        "--matview-agg")
    p.add_argument("--matview-agg", action="append", default=None,
                   metavar="NAME=SQL_AGG_EXPR",
                   help="aggregate column for --matview (repeatable), e.g. "
                        "'n_paths=count(*)' or "
                        "'total_chars=sum(length(content))'")
    p.add_argument("--scd2", default=None,
                   help="maintain an SCD Type 2 history of the CDC payload "
                        "(lake table at this root, created if missing) from "
                        "the same ingest — every (repo, path) version with "
                        "its LWW validity window, pruned timeline recompute "
                        "through the same hook seam, fencing and catch-up "
                        "story as the derived indexes")
    p.add_argument("--expect", action="append", default=None,
                   metavar="NAME=SQL_EXPR",
                   help="CHECK constraint (repeatable): rows where the SQL "
                        "boolean expr is FALSE are quarantined instead of "
                        "applied (NULL passes; control events always pass). "
                        "Requires --quarantine-dir")
    p.add_argument("--requeue", action="store_true",
                   help="after ingest, re-validate the quarantine against "
                        "the CURRENT --expect rules and re-apply passing "
                        "events at their original LWW version (rules "
                        "relaxed since they were diverted); the audit "
                        "record is never mutated")
    p.add_argument("--source", default=None,
                   help="named offset channel for this changelog (S29): "
                        "run one ingest per source CONCURRENTLY into the "
                        "same table; each resumes from its own high-water "
                        "(batch and stream modes; losers of the manifest "
                        "CAS re-plan/retry)")
    p.add_argument("--quarantine-dir", default=None,
                   help="where --expect violators land, one overwritten "
                        "parquet dir per batch id (replay-safe)")
    p.add_argument("--master", default=None,
                   help="override master (tests); production uses spark-submit --master")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    if args.publish_branch is not None and args.publish_branch == args.branch:
        # --publish-branch runs BEFORE staging, so `--branch X
        # --publish-branch X` would publish X's stale pre-run head and leave
        # this run's batches staged-but-unpublished while printing success.
        raise SystemExit(
            "--branch and --publish-branch name the same branch: publish "
            "runs before staging, so this would publish the PRE-run head. "
            "Run the ingest first, then publish in a second invocation."
        )

    from glad_tiles_pipeline_spark.plans.lake import LakeTable
    from glad_tiles_pipeline_spark.plans.planner import ingest_changelog
    from glad_tiles_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="cdc-ingest",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.generate_events:
        from glad_tiles_pipeline_spark.sources.generator import change_log

        change_log(spark, args.generate_events).write.mode("overwrite").parquet(
            args.changelog
        )



    if args.audit_changelog:
        from glad_tiles_pipeline_spark.plans.audit import audit_changelog

        la = audit_changelog(spark, args.changelog)
        if not la["ok"]:
            # at-the-door refusal: nothing was planned or applied yet, so
            # the operator can repair the log and re-run cleanly
            print(json.dumps({"changelog_audit": la}))
            return 3
        for f in la["findings"]:  # warnings only — proceed, but say so
            print(f"changelog audit {f['level']}: {f['code']}: "
                  f"{f['detail']}", file=sys.stderr)

    if args.create and not os.path.exists(
        os.path.join(args.table, "manifests")
    ):
        table = LakeTable.create(args.table, n_buckets=args.n_buckets)
    else:
        table = LakeTable(args.table)

    if args.drop_branch is not None:
        table.drop_branch(args.drop_branch)
        print(f"dropped branch {args.drop_branch}")
    if args.publish_branch is not None:
        out = table.publish_branch(args.publish_branch)
        print(f"published branch {out['branch']}: {out['published']} "
              f"snapshot(s), head v{out['snapshot_id']}")
    main_table = table
    if args.branch is not None:
        # stage onto the branch: all ingest below targets the branch handle
        if args.mode == "stream":
            raise SystemExit(
                "--branch supports batch mode only (the stream checkpoint "
                "is keyed to one manifest chain)"
            )
        if args.create_tag is not None:
            raise SystemExit(
                "--create-tag with --branch is ambiguous (tags pin MAIN "
                "snapshots; the staged work isn't on main yet) — publish "
                "the branch first, then tag"
            )
        if args.export_to is not None:
            raise SystemExit(
                "--export-to with --branch would clone UNPUBLISHED staged "
                "content into a freestanding table (bypassing the audit "
                "gate) — publish the branch first, then export"
            )
        if args.branch in table.list_branches():
            table = table.branch(args.branch)
        else:
            table = table.create_branch(args.branch)

    # --report covers THIS run: everything committed after this point
    # (rollback, rebucket, ingest, compaction, requeue) lands in the window
    report_since = table.current_snapshot_id()

    if args.rollback_to is not None:
        if args.mode == "stream" and args.checkpoint is None:
            # the default stream checkpoint already marks the rolled-back
            # changelog files as processed, so the restored range would
            # never be re-fed (the file source only reads NEW files) — the
            # table would silently diverge.  Batch mode re-reads the whole
            # log; a stream recovery needs a FRESH checkpoint dir.
            raise SystemExit(
                "--rollback-to with --mode stream requires an explicit "
                "fresh --checkpoint dir (the default checkpoint would skip "
                "re-feeding the rolled-back range); or use --mode batch"
            )
        new_id = table.rollback(args.rollback_to)
        print(f"rolled back to snapshot {args.rollback_to} "
              f"(published as snapshot {new_id})")

    if args.rebucket_to is not None:
        from glad_tiles_pipeline_spark.operators.rebucket import rebucket

        if args.merge_mode == "cow":
            raise SystemExit(
                "--rebucket-to requires --merge-mode mor (CoW ingest is "
                "refused while two bucket layouts are live)"
            )
        info = rebucket(
            spark, table, args.rebucket_to,
            buckets_per_step=args.rebucket_step,
        )
        print(f"rebucketed to {args.rebucket_to} buckets in "
              f"{info['steps']} step(s), snapshot {info['final_snapshot']}")

    if args.source is not None and any(
        a is not None
        for a in (args.signature_index, args.token_index, args.matview,
                  args.scd2)
    ):
        # refused BEFORE hook setup: building a hook runs the derived-sink
        # catch-up, a side effect a refused invocation must not have.
        # Derived catch-up windows are addressed by the MAIN table's
        # verbatim offset scalar, which interleaved writers alternate — a
        # named-source run could catch up against another source's window
        # (same honesty contract as --branch).
        raise SystemExit("--source cannot be combined with derived sinks "
                         "(--signature-index/--token-index/--matview/"
                         "--scd2): their catch-up is addressed by the "
                         "single-writer offset scalar.  Maintain derived "
                         "tables from the unnamed (single-writer) ingest.")
    hooks = []
    derived_tables = []  # (label, LakeTable) for --audit/--report coverage
    sink_report_since = {}  # label -> pre-run head for --report windows
    sig_index = None
    if (args.matview is not None) != bool(args.matview_agg):
        raise SystemExit("--matview and --matview-agg go together")
    # parsed BEFORE the derived-sink setup: the catch-up re-reads raw
    # changelog windows and must apply the same constraint split the
    # original ingest did, or a crash-between-sinks recovery feeds the
    # sinks rows the table quarantined
    constraints = None
    if args.expect:
        constraints = {}
        for spec in args.expect:
            name, sep, expr = spec.partition("=")
            if not sep or not name or not expr:
                raise SystemExit(f"--expect needs NAME=SQL_EXPR, got {spec!r}")
            constraints[name] = expr
        if args.quarantine_dir is None:
            raise SystemExit("--expect requires --quarantine-dir (violators "
                             "are never silently dropped)")
    if (args.signature_index is not None or args.token_index is not None
            or args.matview is not None or args.scd2 is not None):
        if args.branch is not None:
            # staged work may be audit-rejected; a shared index must never
            # hold signatures of content main readers can't see.  Publish
            # first, then catch the index up in a second invocation.
            raise SystemExit(
                "a derived index with --branch would index unpublished "
                "staged content — publish the branch first, then run with "
                "--signature-index / --token-index (catch-up covers the "
                "published range)"
            )
        from glad_tiles_pipeline_spark.streaming.dedup_index import (
            catch_up_derived_index,
        )

        def _derived(root, create, make_hook, label):
            if os.path.exists(os.path.join(root, "manifests")):
                idx = LakeTable(root)
            else:
                idx = create(root, n_buckets=args.n_buckets)
            # pre-catch-up head: --report windows each sink to THIS run's
            # work, and the bootstrap catch-up below is this run's work
            sink_report_since[label] = idx.current_snapshot_id()
            hook = make_hook(spark, idx)
            if args.mode == "batch":
                # bootstrap / crash-between-sinks recovery: bring the index
                # to the table's offset high-water before new windows plan
                caught = catch_up_derived_index(
                    spark, table, idx, args.changelog, hook=hook,
                    constraints=constraints,
                )
                if caught is not None and not caught.get("skipped"):
                    print(f"{label} caught up: "
                          f"{caught['metrics']['events_read']} event(s)")
            derived_tables.append((label, idx))
            return idx, hook

        if args.signature_index is not None:
            from glad_tiles_pipeline_spark.operators.incremental import (
                create_signature_index,
            )
            from glad_tiles_pipeline_spark.streaming.dedup_index import (
                signature_index_hook,
            )

            sig_index, h = _derived(
                args.signature_index, create_signature_index,
                signature_index_hook, "signature index",
            )
            hooks.append(h)
        if args.token_index is not None:
            from glad_tiles_pipeline_spark.operators.textindex import (
                create_token_index,
                token_index_hook,
            )

            _, h = _derived(
                args.token_index, create_token_index,
                token_index_hook, "token index",
            )
            hooks.append(h)
        if args.matview is not None:
            from pyspark.sql import functions as F
            from pyspark.sql import types as T

            from glad_tiles_pipeline_spark.operators.matview import (
                create_matview,
                matview_hook,
            )

            aggs = {}
            for spec in args.matview_agg:
                name, sep, expr = spec.partition("=")
                if not sep or not name or not expr:
                    raise SystemExit(
                        f"--matview-agg needs NAME=SQL_AGG_EXPR, got {spec!r}"
                    )
                aggs[name] = F.expr(expr)

            def _create_mv(root, n_buckets):
                # aggregate types are dictated by the expressions at read
                # time; longs cover the count/sum family — declare doubles
                # explicitly by casting in the expression
                return create_matview(
                    root,
                    [(n, T.LongType()) for n in aggs],
                    n_buckets=min(n_buckets, 16),
                )

            def _mv_hook(spark_, idx):
                return matview_hook(spark_, table, idx, aggs)

            _, h = _derived(args.matview, _create_mv, _mv_hook,
                            "materialized view")
            hooks.append(h)
        if args.scd2 is not None:
            from pyspark.sql import types as T

            from glad_tiles_pipeline_spark.operators.scd2 import (
                create_scd2_history,
                scd2_hook,
            )

            scd2_payload = ["commit", "lang", "content"]

            def _create_scd2(root, n_buckets):
                return create_scd2_history(
                    root,
                    [(n, T.StringType()) for n in scd2_payload],
                    n_buckets=min(n_buckets, 16),
                )

            def _scd2_hook(spark_, idx):
                return scd2_hook(spark_, idx, scd2_payload)

            _, h = _derived(args.scd2, _create_scd2, _scd2_hook,
                            "scd2 history")
            hooks.append(h)

    if not hooks:
        sig_hook = None
    elif len(hooks) == 1:
        sig_hook = hooks[0]
    else:
        def sig_hook(df, batch_id, offsets, _hooks=tuple(hooks)):
            # each derived sink fences its own prefixed batch id, so the
            # composition is exactly-once per sink even if a crash lands
            # between them (same argument as table-vs-index)
            return {"sinks": [h(df, batch_id, offsets) for h in _hooks]}

    if args.mode == "batch":
        results = ingest_changelog(
            spark,
            table,
            args.changelog,
            batch_size=args.batch_size,
            max_batches=args.max_batches,
            dedup_strategy=args.dedup_strategy,
            merge_mode=args.merge_mode,
            compact_every=args.compact_every,
            use_arrow_udfs=args.use_arrow_udfs,
            post_apply=sig_hook,
            constraints=constraints,
            quarantine_dir=args.quarantine_dir,
            source=args.source,
        )
    else:
        from glad_tiles_pipeline_spark.streaming import stream_ingest

        ckpt = args.checkpoint or os.path.join(args.table, "_stream_ckpt")
        results = stream_ingest(
            spark,
            table,
            args.changelog,
            ckpt,
            max_files_per_trigger=args.max_files_per_trigger,
            dedup_strategy=args.dedup_strategy,
            merge_mode=args.merge_mode,
            use_arrow_udfs=args.use_arrow_udfs,
            post_apply=sig_hook,
            constraints=constraints,
            check_quarantine_dir=args.quarantine_dir,
            channel=args.source,
            compact_every=args.compact_every,
        )

    if args.compact_after:
        from glad_tiles_pipeline_spark.operators.merge import compact

        info = compact(
            spark, table,
            cluster_by_key=args.cluster_by_key,
            target_file_rows=args.target_file_rows,
        )
        if not info.get("skipped"):
            print(f"compacted {info['compacted_buckets']} bucket(s), "
                  f"snapshot {info['snapshot_id']}")

    if args.create_tag is not None:
        sid = table.create_tag(args.create_tag)
        print(f"tagged snapshot v{sid} as {args.create_tag}")

    vacuumed = None
    if args.vacuum_keep is not None:
        # vacuum is a global GC admin op: main handle only (and branch-
        # aware retention already pins any files this run just staged)
        vacuumed = main_table.vacuum(keep_last=args.vacuum_keep)

    if args.requeue:
        if args.quarantine_dir is None:
            raise SystemExit("--requeue requires --quarantine-dir")
        from glad_tiles_pipeline_spark.operators.constraints import (
            requeue_quarantine,
        )

        rq = requeue_quarantine(
            spark, table, args.quarantine_dir, constraints=constraints,
            post_apply=sig_hook,  # derived sinks see requeued events too —
            # their offsets sit below the high-water, so no catch-up ever
            # re-feeds them (requeue is the only delivery path)
            merge_mode=args.merge_mode, use_arrow_udfs=args.use_arrow_udfs,
        )
        summary_requeue = {"requeued": rq["requeued"],
                           "still_quarantined": rq["still_quarantined"]}
    else:
        summary_requeue = None

    # the audit runs BEFORE the irreversible steps (log truncation, the
    # export clone) so a failing table is neither pruned nor cloned
    audited = None
    if args.audit:
        from glad_tiles_pipeline_spark.plans.audit import audit_table

        audit = audit_table(table)
        audited = {"ok": audit["ok"], "findings": audit["findings"],
                   "checked": audit["checked"]}
        # derived sinks are ordinary lake tables whose manifest claims
        # readers trust the same way — one --audit covers the whole run's
        # output surface (the sha spot-check self-gates on tables that
        # carry content/content_sha, e.g. the SCD2 history)
        for label, idx in derived_tables:
            da = audit_table(idx)
            audited.setdefault("derived", {})[label] = {
                "ok": da["ok"], "findings": da["findings"],
                "checked": da["checked"],
            }
            audited["ok"] = audited["ok"] and da["ok"]
    held_back = []
    if audited is not None and not audited["ok"]:
        held_back = [flag for flag, on in (
            ("--prune-changelog", args.prune_changelog),
            ("--export-to", args.export_to is not None),
        ) if on]

    pruned = None
    if args.prune_changelog and not held_back:
        from glad_tiles_pipeline_spark.sources.changelog import (
            prune_changelog,
        )

        consumers = [(table, args.source or "default")]
        consumers += [idx for _, idx in derived_tables]
        pruned = prune_changelog(args.changelog, consumers=consumers)

    exported = None
    if args.export_to is not None and not held_back:
        # last action: the clone carries everything this run did
        # (ingest, compaction, requeue) plus the resume offsets
        clone = table.export_to(args.export_to)
        exported = {"dest": args.export_to,
                    "source_snapshot": table.current_snapshot_id(),
                    "clone_snapshot": clone.current_snapshot_id()}

    applied = [r for r in results if not r.get("skipped")]
    summary = {
        "mode": args.mode,
        "batches_applied": len(applied),
        "batches_skipped": len(results) - len(applied),
        "events_read": sum(r["metrics"]["events_read"] for r in applied),
        "winners": sum(r["metrics"]["winners"] for r in applied),
        "snapshot_id": table.current_snapshot_id(),
        # the CHANNEL high-water (monotone max), not the legacy verbatim
        # scalar: file-source streams can apply windows out of offset
        # order, leaving the last commit's verbatim window mid-log
        "last_committed_offset": table.last_committed_offset(
            args.source or "default"
        ),
    }
    if constraints is not None:
        summary["quarantined"] = sum(
            r.get("quarantined", 0) + r.get("check_quarantined", 0)
            for r in applied
        )
    if summary_requeue is not None:
        summary.update(summary_requeue)
    if vacuumed is not None:
        summary["vacuum"] = vacuumed
    if exported is not None:
        summary["exported"] = exported
    if pruned is not None:
        summary["changelog_pruned"] = pruned
    if sig_index is not None:
        summary["signature_index_snapshot"] = sig_index.current_snapshot_id()
    if args.incremental_from is not None:
        try:
            summary["incremental_rows"] = table.incremental(
                spark, args.incremental_from
            ).count()
        except ValueError as e:  # window spans a rewrite (cow/compaction)
            summary["incremental_error"] = str(e)
    if audited is not None:
        summary["audit"] = audited
    if held_back:
        # irreversible steps are not run on a table that failed its audit
        summary["skipped_after_failed_audit"] = held_back
    if args.report:
        rep = table.report(since_snapshot=report_since)
        # derived sinks are ordinary lake tables recording the same
        # lineage/metrics — one --report covers the run's whole output
        # surface, each sink windowed to its own pre-run head
        for label, idx in derived_tables:
            rep.setdefault("derived", {})[label] = idx.report(
                since_snapshot=sink_report_since[label]
            )
        summary["report"] = rep
    if args.fast_count:
        # admin count from parquet metadata alone; falls back to a
        # resolved scan (this session) when MoR deltas are outstanding
        summary["fast_count"] = table.fast_count(spark)
    if args.show_files:
        table.files(spark).show(100, truncate=False)
    print(json.dumps(summary))
    if args.audit and not summary["audit"]["ok"]:
        return 3
    if args.show_history:
        for row in table.history(spark).orderBy("snapshot_id").collect():
            print(json.dumps(row.asDict()), file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
