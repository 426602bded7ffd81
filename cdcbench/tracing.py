"""Per-layer tracing for a benchmark run, from the benchmark's own files.

With tracing on, every call the benchmark makes into the engine runs
under a Spark job description naming its call site (``merge.apply_batch#7``),
the public ``LakeTable`` methods are wrapped with timers, and Spark writes
its event log into the run's work directory.  After the session stops,
``Tracer.table`` decodes the event log offline: task metrics are summed
per job description and joined with the wall time the benchmark measured
around each call.  With tracing off every hook here is a no-op.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# LakeTable methods timed under tracing; nested calls are each timed
# inclusively (lookup -> scan -> manifest)
LAKE_METHODS = ("commit", "manifest", "scan", "lookup", "current_snapshot_id")

PER_LAYER = [
    # name, unit
    ("merge.apply_batch.wall_s", "s"),
    ("merge.apply_batch.executor_cpu_s", "s"),
    ("merge.apply_batch.executor_run_s", "s"),
    ("merge.apply_batch.shuffle_write_mb", "MB"),
    ("merge.apply_batch.driver_s", "s"),
    ("merge.apply_batch.jobs", "count"),
    ("merge.apply_batch.input_mb", "MB"),
    ("merge.apply_batch.output_mb", "MB"),
    ("lake.commit.wall_ms", "ms"),
    ("lake.commit.manifest_kb", "KB"),
    ("lake.manifest.calls", "count"),
    ("lake.manifest.wall_ms", "ms"),
    ("merge.compact.wall_s", "s"),
    ("merge.compact.executor_cpu_s", "s"),
    ("merge.compact.shuffle_write_mb", "MB"),
    ("functions.arrow_udf.bytes_to_python_mb", "MB"),
    ("scd2.hook.wall_s", "s"),
    ("scd2.hook.executor_cpu_s", "s"),
    ("scd2.hook.input_mb", "MB"),
    ("scd2.history.files", "count"),
    ("matview.hook.wall_s", "s"),
    ("matview.hook.executor_cpu_s", "s"),
    ("matview.hook.input_mb", "MB"),
    ("lake.head.files", "count"),
    ("lake.lookup.wall_ms", "ms"),
    ("lake.lookup.input_mb", "MB"),
    ("lake.lookup.tasks", "count"),
    ("lake.scan.wall_s", "s"),
    ("lake.scan.input_mb", "MB"),
    ("lake.scan.executor_cpu_s", "s"),
]

# SQL metric the Arrow Python runners report per task
PY_SENT = "data sent to Python workers"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.calls: list[dict] = []  # one per benchmark call into the engine
        self.lake: list[dict] = []  # one per wrapped LakeTable method call
        self.head: dict[str, float] = {}
        self._stack: list[dict] = []
        self._roles: dict[str, str] = {}
        self._seq = 0
        self._restore: list[tuple[str, object]] = []

    # -- recording -------------------------------------------------------

    def name_table(self, root: str, role: str) -> None:
        self._roles[os.path.abspath(root)] = role

    @contextmanager
    def site(self, name: str, timed: bool):
        if not self.enabled:
            yield
            return
        self._seq += 1
        call = {"site": name, "label": f"{name}#{self._seq}", "timed": timed}
        sc = self.spark.sparkContext
        sc.setJobDescription(call["label"])
        self._stack.append(call)
        call["start"] = time.time()
        try:
            yield
        finally:
            call["end"] = time.time()
            self._stack.pop()
            sc.setJobDescription(self._stack[-1]["label"] if self._stack else None)
            self.calls.append(call)

    def install(self) -> None:
        """Wrap the public LakeTable methods with timers."""
        if not self.enabled:
            return
        from glad_tiles_pipeline_spark.plans.lake import LakeTable

        for meth in LAKE_METHODS:
            orig = getattr(LakeTable, meth)
            self._restore.append((meth, orig))
            setattr(LakeTable, meth, self._wrap(meth, orig))

    def uninstall(self) -> None:
        from glad_tiles_pipeline_spark.plans.lake import LakeTable

        for meth, orig in self._restore:
            setattr(LakeTable, meth, orig)
        self._restore.clear()

    def _wrap(self, meth: str, orig):
        tracer = self

        def timed(self, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(self, *args, **kwargs)
            finally:
                tracer.lake.append({
                    "method": meth,
                    "table": tracer._roles.get(os.path.abspath(self.root), "other"),
                    "call": tracer._stack[-1]["label"] if tracer._stack else None,
                    "ms": (time.perf_counter() - t0) * 1e3,
                })

        timed.__wrapped__ = orig
        return timed

    def after_loop(self, table) -> None:
        """Head-manifest size of the main table once the timed loop ends."""
        if not self.enabled:
            return
        sid = table.current_snapshot_id()
        mpath = os.path.join(table.root, "manifests", f"v{sid}.json")
        self.head["manifest_kb"] = os.path.getsize(mpath) / 1e3

    # -- offline decode --------------------------------------------------

    def table(self, event_dir: str) -> list[dict]:
        """One row per call: wall time plus the task metrics of the Spark
        jobs that ran under the call's description."""
        jobs, tasks = _decode(event_dir)
        rows = []
        for c in self.calls:
            m = tasks.get(c["label"], {})
            spans = sorted(
                (max(s, c["start"] * 1e3), min(e, c["end"] * 1e3))
                for lbl, s, e in jobs if lbl == c["label"]
            )
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in spans:
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            wall = c["end"] - c["start"]
            lake = [r for r in self.lake if r["call"] == c["label"]]
            rows.append({
                "site": c["site"],
                "label": c["label"],
                "timed": c["timed"],
                "wall_s": wall,
                "driver_s": max(wall - covered / 1e3, 0.0),
                "jobs": sum(1 for lbl, _s, _e in jobs if lbl == c["label"]),
                "tasks": m.get("tasks", 0),
                "executor_cpu_s": m.get("cpu_ns", 0) / 1e9,
                "executor_run_s": m.get("run_ms", 0) / 1e3,
                "input_mb": m.get("in_b", 0) / 1e6,
                "output_mb": m.get("out_b", 0) / 1e6,
                "shuffle_write_mb": m.get("shw_b", 0) / 1e6,
                "bytes_to_python_mb": m.get("py_b", 0) / 1e6,
                "commit_ms": sum(r["ms"] for r in lake if r["method"] == "commit"),
                "commits": sum(1 for r in lake if r["method"] == "commit"),
                "manifest_calls": sum(1 for r in lake if r["method"] == "manifest"),
                "manifest_ms": sum(r["ms"] for r in lake if r["method"] == "manifest"),
            })
        return rows

    def per_layer(self, rows: list[dict], n_rounds: int, head_files: int,
                  history_files: int) -> dict[str, float]:
        """The BENCHMARK.json per-layer metrics from the decoded rows: per
        call medians over the timed calls of each site; lake commit and
        manifest figures are per timed batch, summed over the batch's
        apply_batch and hook calls; compaction is per round."""

        def med(site, col):
            vals = [r[col] for r in rows if r["site"] == site and r["timed"]]
            return statistics.median(vals) if vals else 0.0

        def total(site, col):
            return sum(r[col] for r in rows if r["site"] == site and r["timed"])

        batch_sites = ("merge.apply_batch", "scd2.hook", "matview.hook")
        n_batches = sum(
            1 for r in rows if r["site"] == "merge.apply_batch" and r["timed"]
        ) or 1
        per_batch = {
            col: sum(
                r[col] for r in rows if r["site"] in batch_sites and r["timed"]
            ) / n_batches
            for col in ("commit_ms", "manifest_calls", "manifest_ms")
        }
        out = {}
        for col in ("wall_s", "executor_cpu_s", "executor_run_s",
                    "shuffle_write_mb", "driver_s", "jobs", "input_mb",
                    "output_mb"):
            out[f"merge.apply_batch.{col}"] = med("merge.apply_batch", col)
        out["lake.commit.wall_ms"] = per_batch["commit_ms"]
        out["lake.commit.manifest_kb"] = self.head.get("manifest_kb", 0.0)
        out["lake.manifest.calls"] = per_batch["manifest_calls"]
        out["lake.manifest.wall_ms"] = per_batch["manifest_ms"]
        for col in ("wall_s", "executor_cpu_s", "shuffle_write_mb"):
            out[f"merge.compact.{col}"] = total("merge.compact", col) / n_rounds
        out["functions.arrow_udf.bytes_to_python_mb"] = med(
            "merge.apply_batch", "bytes_to_python_mb"
        )
        for sink in ("scd2", "matview"):
            for col in ("wall_s", "executor_cpu_s", "input_mb"):
                out[f"{sink}.hook.{col}"] = med(f"{sink}.hook", col)
        out["scd2.history.files"] = float(history_files)
        out["lake.head.files"] = float(head_files)
        out["lake.lookup.wall_ms"] = med("lake.lookup", "wall_s") * 1e3
        out["lake.lookup.input_mb"] = med("lake.lookup", "input_mb")
        out["lake.lookup.tasks"] = med("lake.lookup", "tasks")
        for col in ("wall_s", "input_mb", "executor_cpu_s"):
            out[f"lake.scan.{col}"] = med("lake.scan", col)
        return out


def _decode(event_dir: str):
    """Read every Spark event log under ``event_dir``.  Returns the jobs as
    (description, submit_ms, end_ms) and the summed task metrics per job
    description."""
    job_label: dict[int, str] = {}
    job_start: dict[int, float] = {}
    jobs: list[tuple[str, float, float]] = []
    stage_label: dict[int, str] = {}
    tasks: dict[str, dict] = {}
    paths = glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get("spark.job.description")
                    if label is None:
                        continue
                    jid = ev["Job ID"]
                    job_label[jid] = label
                    job_start[jid] = ev.get("Submission Time", 0)
                    for sid in ev.get("Stage IDs", []):
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_label:
                        jobs.append((job_label[jid], job_start[jid],
                                     ev.get("Completion Time", job_start[jid])))
                elif kind == "SparkListenerStageSubmitted":
                    label = (ev.get("Properties") or {}).get("spark.job.description")
                    sid = ev["Stage Info"]["Stage ID"]
                    if label is not None:
                        stage_label[sid] = label
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev.get("Stage ID"))
                    if label is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    agg = tasks.setdefault(label, {
                        "tasks": 0, "cpu_ns": 0, "run_ms": 0, "in_b": 0,
                        "out_b": 0, "shw_b": 0, "py_b": 0,
                    })
                    agg["tasks"] += 1
                    agg["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    agg["run_ms"] += tm.get("Executor Run Time", 0)
                    agg["in_b"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    agg["out_b"] += (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    agg["shw_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PY_SENT:
                            agg["py_b"] += int(acc.get("Update") or 0)
    return jobs, tasks
