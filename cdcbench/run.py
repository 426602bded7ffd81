#!/usr/bin/env python3
"""Benchmark of the CDC ingest engine: one workload, one seed, one process.

    python3 cdcbench/run.py --workload bulk_mor --seed 1 --seconds 30 --trace 0

Run from the repository root.  The run generates its change log from the
seed, ingests it through the engine's public functions in whole rounds
(see workloads.py) until the next round would overrun ``--seconds``,
checks every output against a DuckDB replay of the log (checks.py) and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
turns on the Spark event log, job descriptions and LakeTable timers and
reports the per-layer metrics instead, and writes the per-call table to
``cdcbench/results/``.  Everything the run writes lives under
``cdcbench/_work/`` and is removed when it ends.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started, from /proc (0 if unreadable)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


T_PROCESS_START = time.monotonic() - _process_age()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "glad_tiles_pipeline_spark"
# local[n] threads: two leave the other cores to the driver, the JVM's
# compiler and GC threads and the Python workers, which steadies timings
SPARK_THREADS = 2
SHUFFLE_PARTITIONS = 8


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt", choices=("none", "row", "lookup"), default="none",
        help="deliberately damage one table row or one lookup result "
        "before the checks, to show that they catch it",
    )
    return ap.parse_args(argv)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            continue
        out += kids
        todo += kids
    return out


def peak_rss_mb() -> float:
    """Largest peak RSS (VmHWM) among this process and its descendants."""
    best = 0
    for p in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process the
    session started has ended."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - TimeoutExpired; kill below
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def corrupt_one_row(table_root: str) -> None:
    """Rewrite one data file of the table's head snapshot with one row's
    content changed, leaving its manifest entry as it was."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from glad_tiles_pipeline_spark.plans.lake import LakeTable

    for f in LakeTable(table_root).manifest()["files"]:
        if f.get("kind") in (None, "data") and f.get("rows", 0) > 0:
            path = os.path.join(table_root, f["path"])
            t = pq.read_table(path)
            i = t.schema.get_field_index("content")
            col = t.column(i).to_pylist()
            col[0] = (col[0] or "") + "#"
            pq.write_table(t.set_column(i, "content", pa.array(col, pa.string())), path)
            # Hadoop's local file system would refuse the file on its stale
            # checksum; the damage must be silent for the checks to find it
            crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            return
    raise RuntimeError("no data file to corrupt")


def note(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since process start."""
    print(f"cdcbench: {time.monotonic() - T_PROCESS_START:7.2f}s {msg}",
          file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"cdcbench: the engine package {PACKAGE}/ is not under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run(args, work: str) -> int:
    local, tmp, events = (os.path.join(work, d) for d in ("local", "tmp", "events"))
    for d in (local, tmp, events):
        os.makedirs(d, exist_ok=True)
    # the JVM, the Python workers and tempfile all inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)

    from checks import Oracle
    from tracing import PER_LAYER, Tracer
    from workloads import WORKLOADS, lookup_keys, run_round, summarize

    from glad_tiles_pipeline_spark.session import get_spark
    from glad_tiles_pipeline_spark.sources.generator import LANG_VARIANTS, change_log

    wl = WORKLOADS[args.workload]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap, touched whole at start, keeps GC sizing the same run
        # to run and takes the heap's page-touch pattern out of peak RSS:
        # which G1 regions a run happens to touch moved it by up to 300 MB
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
            "-XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    cpus = min(SPARK_THREADS, len(os.sched_getaffinity(0)))
    spark = get_spark(app_name=f"cdcbench-{wl.name}", master=f"local[{cpus}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        note("session started")
        tracer = Tracer(spark, bool(args.trace))
        tracer.install()
        log_dir = os.path.join(work, "changelog")
        change_log(
            spark, wl.n_events, n_repos=wl.n_repos,
            paths_per_repo=wl.paths_per_repo, seed=args.seed,
            zipf_s=wl.zipf_s, content_repeat=wl.content_repeat,
            partitions=cpus,
        ).write.parquet(log_dir)
        note(f"log of {wl.n_events} events written")
        oracle = Oracle(log_dir, LANG_VARIANTS)
        hi = wl.n_events - 1
        keys = lookup_keys(wl, args.seed, oracle.live_keys(hi))

        setup: dict[str, float] = {}

        def close_setup():
            setup["s"] = time.monotonic() - T_PROCESS_START
            setup["t"] = time.monotonic()
            note("warm-up done, set-up closed")

        rounds = []
        checks: dict[str, bool] = {}
        while True:
            t0 = time.monotonic()
            rdir = os.path.join(work, f"round{len(rounds)}")
            res = run_round(spark, wl, log_dir, rdir, keys, tracer,
                            on_warm=None if rounds else close_setup)
            note("round done: batches " + " ".join(f"{s:.2f}" for s in res.batch_s)
                 + " | lookups_ms " + " ".join(f"{m:.0f}" for m in res.lookup_ms)
                 + " | scans " + " ".join(f"{s:.2f}" for s in res.scan_s)
                 + f" | compact {res.compact_s:.2f}"
                 + f" | events/s {res.timed_events / res.ingest_s:.0f},"
                 f" report() says {res.report_events_per_s}")
            if args.corrupt == "row":
                corrupt_one_row(os.path.join(rdir, "table"))
                from glad_tiles_pipeline_spark.plans.lake import LakeTable

                res.scan_after = LakeTable(os.path.join(rdir, "table")).scan(
                    spark).toArrow()
            elif args.corrupt == "lookup":
                key, _rows = res.lookups[0]
                res.lookups[0] = (key, [{"repo": key[0], "path": key[1],
                                         "content": "corrupted"}])
            for name, ok in oracle.check_round(res, hi, wl.sinks).items():
                checks[name] = checks.get(name, True) and ok
            rounds.append(res)
            # another whole round only if it still fits in the window
            took = time.monotonic() - t0
            if time.monotonic() - setup["t"] + took > args.seconds:
                break
        rss = peak_rss_mb()
        tracer.uninstall()
    finally:
        stop_spark(spark)
    note("session stopped")

    for name, ok in sorted(checks.items()):
        print(f"check {name}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
    attempted = sum(r.operations for r in rounds)
    if args.trace:
        rows = tracer.table(events)
        metrics = tracer.per_layer(rows, len(rounds), rounds[-1].head_files,
                                   rounds[-1].history_files)
        out = {name: {"value": metrics[name], "unit": unit}
               for name, unit in PER_LAYER}
        write_trace_table(wl.name, args.seed, rows, summarize(rounds), events)
    else:
        m = summarize(rounds)
        m["setup_s"] = setup["s"]
        m["peak_rss_mb"] = rss
        out = {name: {"value": m[name], "unit": unit}
               for name, unit in END_TO_END}
    line = json.dumps({
        "correct": all(checks.values()),
        "attempted": attempted,
        "failed": 0,
        "metrics": out,
    })
    with open(os.path.join(results_dir(), f"{wl.name}-seed{args.seed}-trace"
                           f"{args.trace}.json"), "w") as fh:
        fh.write(line + "\n")
    print(line)
    return 0


END_TO_END = [
    ("setup_s", "s"),
    ("events_per_s", "1/s"),
    ("batch_p50_s", "s"),
    ("compact_s", "s"),
    ("lookup_p50_ms", "ms"),
    ("scan_s", "s"),
    ("bytes_written_mb", "MB"),
    ("peak_rss_mb", "MB"),
]


def results_dir() -> str:
    path = os.path.join(HERE, "results")
    os.makedirs(path, exist_ok=True)
    return path


def write_trace_table(workload: str, seed: int, rows: list[dict],
                      e2e: dict, event_dir: str) -> None:
    """Per-call rows and a per-site rollup of a traced run, as JSON, next
    to the Spark event log they were decoded from."""
    sites: dict[str, dict] = {}
    for r in rows:
        if not r["timed"]:
            continue
        s = sites.setdefault(r["site"], {"site": r["site"], "calls": 0})
        s["calls"] += 1
        for k, v in r.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                s[k] = s.get(k, 0) + v
    stem = os.path.join(results_dir(), f"trace-{workload}-seed{seed}")
    shutil.rmtree(stem + "-eventlog", ignore_errors=True)
    shutil.copytree(event_dir, stem + "-eventlog")
    path = stem + ".json"
    with open(path, "w") as fh:
        json.dump({"workload": workload, "seed": seed,
                   "traced_end_to_end": e2e,
                   "sites": list(sites.values()), "calls": rows}, fh, indent=1)
    print(f"cdcbench: per-layer table written to {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
