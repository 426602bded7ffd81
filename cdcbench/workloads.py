"""Workload definitions and the timed round every workload runs.

A round ingests one generated change log into fresh tables through the
engine's public functions, the way ``plans.planner.ingest_changelog`` does
(read an offset window with ``read_changelog_batch``, ``apply_batch`` it,
then call each derived-sink hook), reads the table, compacts it, and hands
everything the correctness checks need back to the caller.

The first ``warm_batches`` batches of every round are untimed warm-up: on
this engine the first batch in a process pays JIT, code generation and
Python-worker start-up several times over the steady cost, and the next
few still get faster.  The round then times ``n_batches`` further
batches, a read phase on the uncompacted table and the final compaction.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # change_log parameters (sources.generator): key space, skew, content
    n_repos: int
    paths_per_repo: int
    zipf_s: float
    content_repeat: int
    # warm_batches untimed windows of warm_events each, then n_batches
    # timed windows of batch_events each
    warm_batches: int
    warm_events: int
    batch_events: int
    n_batches: int
    merge_mode: str
    n_buckets: int
    sinks: bool
    n_lookups: int
    n_scans: int

    @property
    def n_events(self) -> int:
        return (self.warm_batches * self.warm_events
                + self.n_batches * self.batch_events)

    def windows(self) -> list[tuple[int, int, bool]]:
        """Inclusive offset windows ``(lo, hi, timed)``: the warm-up
        batches, then the timed ones."""
        sizes = ([(self.warm_events, False)] * self.warm_batches
                 + [(self.batch_events, True)] * self.n_batches)
        out, lo = [], 0
        for size, timed in sizes:
            out.append((lo, lo + size - 1, timed))
            lo += size
        return out


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="bulk_mor",
            why="large mor batches of a hot-monorepo log, then one compaction: "
            "shuffle, dedup, Arrow UDF and write throughput, no sinks",
            n_repos=100, paths_per_repo=70, zipf_s=3.0, content_repeat=8,
            warm_batches=2, warm_events=10_000,
            batch_events=20_000, n_batches=3,
            merge_mode="mor", n_buckets=8, sinks=False,
            n_lookups=6, n_scans=1,
        ),
        Workload(
            name="trickle_sinks",
            why="small mor batches with the SCD2 and matview hooks: per-batch "
            "fixed cost, manifest commits and sink maintenance",
            n_repos=100, paths_per_repo=100, zipf_s=3.0, content_repeat=4,
            warm_batches=1, warm_events=2_000,
            batch_events=2_000, n_batches=1,
            merge_mode="mor", n_buckets=4, sinks=True,
            n_lookups=6, n_scans=2,
        ),
    ]
}

SCD2_PAYLOAD = ["commit", "lang", "content"]
MATVIEW_FIELDS = ["n_paths", "total_chars"]


def matview_aggs():
    from pyspark.sql import functions as F

    return {"n_paths": F.count("*"), "total_chars": F.sum(F.length("content"))}


@dataclass
class RoundResult:
    """Timings of one round plus the engine outputs the checks compare."""

    batch_s: list[float] = field(default_factory=list)
    ingest_s: float = 0.0
    timed_events: int = 0
    lookup_ms: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    compact_s: float = 0.0
    bytes_written: int = 0
    operations: int = 0
    # engine outputs, read outside the timings
    lookups: list[tuple[tuple[str, str], list[dict]]] = field(default_factory=list)
    scan_before: object = None
    scan_after: object = None
    events_read: int = -1
    report_events_per_s: float | None = None
    scd2_current: object = None
    matview: object = None
    head_files: int = 0
    history_files: int = 0


def _tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def _head_files(table) -> int:
    return len(table.manifest()["files"])


def lookup_keys(wl: Workload, seed: int, live_keys: list[tuple[str, str]]):
    """``n_lookups`` keys drawn with the run's seed from the keys live at
    the end of the log window, so every run reads the same kind of key."""
    return random.Random(seed).sample(sorted(live_keys), wl.n_lookups)


def run_round(spark, wl: Workload, log_dir: str, round_dir: str, keys,
              tracer, on_warm=None) -> RoundResult:
    """One round on fresh tables under ``round_dir``.  ``on_warm`` runs
    after the last untimed warm-up batch (the caller closes set-up there)."""
    from pyspark.sql import types as T

    from glad_tiles_pipeline_spark.operators.matview import (
        create_matview,
        matview_hook,
        read_matview,
    )
    from glad_tiles_pipeline_spark.operators.merge import apply_batch, compact
    from glad_tiles_pipeline_spark.operators.scd2 import (
        create_scd2_history,
        read_scd2,
        scd2_hook,
    )
    from glad_tiles_pipeline_spark.plans.lake import LakeTable
    from glad_tiles_pipeline_spark.plans.planner import batch_id_for
    from glad_tiles_pipeline_spark.sources.changelog import read_changelog_batch

    res = RoundResult()
    roots = [os.path.join(round_dir, "table")]
    table = LakeTable.create(roots[0], n_buckets=wl.n_buckets)
    tracer.name_table(table.root, "table")
    hooks = []
    sinks = []
    if wl.sinks:
        roots += [os.path.join(round_dir, "scd2"), os.path.join(round_dir, "matview")]
        hist = create_scd2_history(
            roots[1], [(n, T.StringType()) for n in SCD2_PAYLOAD],
            n_buckets=wl.n_buckets,
        )
        view = create_matview(
            roots[2], [(n, T.LongType()) for n in MATVIEW_FIELDS],
            n_buckets=wl.n_buckets // 2,
        )
        tracer.name_table(hist.root, "scd2")
        tracer.name_table(view.root, "matview")
        hooks = [
            ("scd2.hook", scd2_hook(spark, hist, SCD2_PAYLOAD)),
            ("matview.hook", matview_hook(spark, table, view, matview_aggs())),
        ]
        sinks = [hist, view]

    t_loop = None
    for i, (lo, hi, timed) in enumerate(wl.windows()):
        if timed and t_loop is None:
            t_loop = time.monotonic()
        events = read_changelog_batch(spark, log_dir, lo - 1, hi)
        bid = batch_id_for(lo, hi)
        offsets = {"lo": lo, "hi": hi}
        t0 = time.monotonic()
        with tracer.site("merge.apply_batch", timed):
            apply_batch(spark, table, events, bid, offsets=offsets,
                        merge_mode=wl.merge_mode)
        for site, hook in hooks:
            with tracer.site(site, timed):
                hook(events, bid, offsets)
        if timed:
            res.batch_s.append(time.monotonic() - t0)
            res.timed_events += hi - lo + 1
            res.operations += 1 + len(hooks)
        elif on_warm is not None and i == wl.warm_batches - 1:
            # warm the read path too, once per process
            with tracer.site("lake.lookup", False):
                table.lookup(spark, *keys[0]).collect()
            with tracer.site("lake.scan", False):
                table.scan(spark).toArrow()
            on_warm()
    res.ingest_s = time.monotonic() - t_loop
    with tracer.site("lake.head", False):
        res.head_files = _head_files(table)
        if wl.sinks:
            res.history_files = _head_files(sinks[0])
    tracer.after_loop(table)

    # read phase on the uncompacted table: LWW resolution at read time
    for key in keys:
        t0 = time.monotonic()
        with tracer.site("lake.lookup", True):
            rows = [r.asDict() for r in table.lookup(spark, *key).collect()]
        res.lookup_ms.append((time.monotonic() - t0) * 1e3)
        res.lookups.append((key, rows))
        res.operations += 1
    for _ in range(wl.n_scans):
        t0 = time.monotonic()
        with tracer.site("lake.scan", True):
            res.scan_before = table.scan(spark).toArrow()
        res.scan_s.append(time.monotonic() - t0)
        res.operations += 1

    t0 = time.monotonic()
    for t in [table] + sinks:
        with tracer.site("merge.compact", True):
            compact(spark, t)
        res.operations += 1
    res.compact_s = time.monotonic() - t0

    # engine outputs for the checks, outside every timing
    res.bytes_written = sum(_tree_bytes(r) for r in roots)
    with tracer.site("check", False):
        res.scan_after = table.scan(spark).toArrow()
        report = table.report()
        res.events_read = int(report["totals"]["events_read"])
        res.report_events_per_s = report["events_per_sec"]
        if wl.sinks:
            res.scd2_current = read_scd2(spark, sinks[0], current_only=True).toArrow()
            res.matview = read_matview(spark, sinks[1]).toArrow()
    return res


def summarize(rounds: list[RoundResult]) -> dict:
    """End-to-end metrics over every round of a run (medians)."""
    return {
        "events_per_s": statistics.median(
            r.timed_events / r.ingest_s for r in rounds
        ),
        "batch_p50_s": statistics.median(s for r in rounds for s in r.batch_s),
        "compact_s": statistics.median(r.compact_s for r in rounds),
        "lookup_p50_ms": statistics.median(
            ms for r in rounds for ms in r.lookup_ms
        ),
        "scan_s": statistics.median(s for r in rounds for s in r.scan_s),
        "bytes_written_mb": statistics.median(r.bytes_written for r in rounds) / 1e6,
    }
