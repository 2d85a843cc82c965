#!/usr/bin/env python3
"""CDC ingest benchmark: one seeded workload through the engine's public API.

    python3 perfbench/run.py --workload bulk_catchup --seed 1 --seconds 8 --trace 0

``--trace 0`` measures the end-to-end metrics with no instrumentation.
``--trace 1`` runs the same workload with span wrappers, a
StreamingQueryListener and the Spark event log, and reports the per-layer
metrics plus its own ``batch_p50_s`` and ``ingest_events_per_s``, whose
difference from the untraced runs is the tracing overhead. It also drains a
prefix of the same change log at ``local[cores]`` and at ``local[1]`` in two
further JVMs for the scaling efficiency.

Every run checks the final table against a sequential replay of the same
segments (DuckDB) and checks that a corrupted copy fails that comparison.
Human-readable lines go first on standard output; the last line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``. A run
whose output is wrong prints ``"correct": false`` and exits with code 1.
All files are written under ``.perfbench_work/`` and ``.perfbench_out/``
next to this directory.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

import host
import oracle_gate
import tracing
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3  # set-ups per run; setup_s is their median
HOT_CONVERSATIONS = 8
HEAP = "3g"


def _parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] parallelism (default: all CPUs but one)")
    # internal: one scaling leg in a directory holding its staged input
    ap.add_argument("--scaling-leg", default=None, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _environment(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["DCS_SPARK_LOCAL_DIR"] = dirs["spark-local"]
    # A fixed, pre-sized heap (-Xms = -Xmx, below), so peak_rss_mb measures
    # the process tree at a known heap, not how far G1 chose to grow it.
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    return dirs


def _conf(dirs: dict[str, str], traced: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _session(name: str, cores: int, conf: dict[str, str]):
    from datacollector_spark.session import get_spark

    return get_spark(
        f"perfbench-{name}", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )


def _shutdown_jvm() -> None:
    """Stop Spark, if it was started, and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None or proc.poll() is not None:
        return
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _clear_stale_work() -> threading.Thread:
    """Delete, on a background thread, the work directories that runs which
    have ended left in ``.perfbench_work/``. A run leaves its scratch data
    behind rather than deleting it on the way out: on a disk mounted with
    online discard, unlinking files that have been written back costs
    seconds, and here that overlaps the next run's JVM start."""
    names = os.listdir(WORK_ROOT) if os.path.isdir(WORK_ROOT) else []
    stale = [os.path.join(WORK_ROOT, n) for n in names
             if n.rsplit("-", 1)[-1].isdigit() and not _alive(int(n.rsplit("-", 1)[-1]))]
    th = threading.Thread(target=lambda: [shutil.rmtree(d, ignore_errors=True) for d in stale],
                          daemon=True)
    th.start()
    return th


# ------------------------------------------------------------ scaling
def _scaling_leg(args) -> None:
    """Child process: drain the segments staged in ``<leg dir>/in`` at
    local[--cores]; print the steady events/s (first batch excluded) as the
    last line."""
    wl = W.WORKLOADS[args.workload]
    wl = dataclasses.replace(wl, max_files_per_trigger=wl.scaling_files_per_trigger)
    work = args.scaling_leg
    dirs = _environment(work)
    spark = _session(f"{wl.name}-leg{args.cores}", args.cores, _conf(dirs, False))
    rig = W.build_rig(spark, wl, os.path.join(work, "rig"))
    inbox = os.path.join(work, "in")
    for name in sorted(os.listdir(inbox)):
        os.replace(os.path.join(inbox, name), os.path.join(rig.src, name))
    q, _t0, err = W.drain(spark, rig.pipe)
    b = W.batches_of(q.recentProgress) if q is not None else []
    _shutdown_jvm()
    ok = err is None and len(b) > 1
    rate = sum(x["rows"] for x in b[1:]) / (b[-1]["commit"] - b[0]["commit"]) if ok else 0.0
    print(json.dumps({"events_per_s": rate, "batches": len(b), "error": repr(err) if err else None}))


def _run_leg(wl, segments, cores: int, work: str, seed: int, seconds: int) -> dict:
    leg_dir = os.path.join(work, f"leg{cores}")
    W.stage_copy(segments[: wl.scaling_segments], os.path.join(leg_dir, "in"))
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", wl.name,
        "--seed", str(seed), "--seconds", str(seconds), "--cores", str(cores),
        "--scaling-leg", leg_dir,
    ]
    t = time.perf_counter()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=150)
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if p.returncode == 0 and lines else {"events_per_s": 0.0}
    out["wall_s"] = time.perf_counter() - t
    out["returncode"] = p.returncode
    return out


# ------------------------------------------------------------- layers
def _layer_metrics(tracer, run, spark_batches) -> dict:
    """Per-layer metrics of the traced pass: medians per steady batch
    (each query's first batch excluded) unless stated otherwise."""
    steady = [b for q in run.queries for b in q["batches"][1:]]
    every = [b for q in run.queries for b in q["batches"]]
    by_batch: dict = {}
    for s in tracer.spans:
        if s["batch_id"] is not None and s["end"] is not None:
            by_batch.setdefault(s["batch_id"], []).append(s)
    merges = {m["batch_id"]: m for m in tracer.merges}
    seg_bytes: dict = {}
    for s in run.segments:
        seg_bytes[s["batch_id"]] = seg_bytes.get(s["batch_id"], 0) + s["bytes"]

    def per_batch(fn):
        return W.p50([fn(b) for b in steady])

    def span_sum(b, name):
        return sum(s["end"] - s["start"] for s in by_batch.get(b["batch_id"], []) if s["name"] == name)

    def self_sum(b, name):
        return sum(tracer.self_time(s) for s in by_batch.get(b["batch_id"], []) if s["name"] == name)

    def dur(key):
        return lambda b: b["durations"].get(key, 0.0)

    def merge_ratio(b, num, den):
        m = merges.get(b["batch_id"])
        return m[num] / m[den] if m and m[den] else 0.0

    def top_level(name):
        return [s["end"] - s["start"] for s in tracer.spans
                if s["name"] == name and s["parent"] is None and s["end"] is not None]

    trig = sum(b["wall"] for b in every)
    covered = sum(span_sum(b, "streaming.apply_batch") + b["wall"] - b["durations"].get("addBatch", 0.0)
                  for b in every)
    sb = {w["batch_id"]: w for w in spark_batches}

    def spark_m(key):
        return per_batch(lambda b: sb[b["batch_id"]][key] if b["batch_id"] in sb else 0.0)

    m = {
        "sources.get_batch_s": (per_batch(dur("getBatch")), "s"),
        "sources.latest_offset_s": (per_batch(dur("latestOffset")), "s"),
        "sources.input_rows": (per_batch(lambda b: b["rows"]), "count"),
        "sources.backlog_segments": (W.p50([s["backlog_at_landing"] for s in run.segments]), "count"),
        "sources.generator_late_max_s": (max((s["landed"] - s["sched"] for s in run.segments), default=0.0), "s"),
        "streaming.apply_batch_self_s": (per_batch(lambda b: self_sum(b, "streaming.apply_batch")), "s"),
        "streaming.driver_gap_s": (per_batch(lambda b: b["wall"] - b["durations"].get("addBatch", 0.0)), "s"),
        "streaming.query_planning_s": (per_batch(dur("queryPlanning")), "s"),
        "streaming.wal_commit_s": (per_batch(dur("walCommit")), "s"),
        "streaming.commit_offsets_s": (per_batch(dur("commitOffsets")), "s"),
        "streaming.trace_coverage_frac": (covered / trig if trig else 0.0, "ratio"),
        "operators.lww_collapse_call_s": (per_batch(lambda b: span_sum(b, "operators.lww_collapse")), "s"),
        "operators.transcript_transforms_call_s": (
            per_batch(lambda b: span_sum(b, "operators.transcript_transforms")), "s"),
        "operators.collapse_ratio": (per_batch(lambda b: b["rows"] / merges[b["batch_id"]]["rows_source"]
                                               if merges.get(b["batch_id"], {}).get("rows_source") else 0.0),
                                     "ratio"),
        "lake.merge_self_s": (per_batch(lambda b: self_sum(b, "lake.merge")), "s"),
        "lake.expire_snapshots_s": (per_batch(lambda b: span_sum(b, "lake.expire_snapshots")), "s"),
        "lake.bytes_written_per_input_byte": (
            per_batch(lambda b: merges[b["batch_id"]]["bytes_written"] / seg_bytes[b["batch_id"]]
                      if b["batch_id"] in merges and seg_bytes.get(b["batch_id"]) else 0.0), "ratio"),
        "lake.files_written": (per_batch(lambda b: merges.get(b["batch_id"], {}).get("files_written", 0)), "count"),
        "lake.buckets_touched": (per_batch(lambda b: merges.get(b["batch_id"], {}).get("buckets_touched", 0)), "count"),
        "lake.stale_frac": (per_batch(lambda b: merge_ratio(b, "rows_lww_skipped", "rows_source")), "ratio"),
        "lake.read_s": (W.p50(top_level("lake.read")), "s"),
        "lake.delta_files_pending": (W.p50(run.delta_pending), "count"),
        "lake.compact_deltas_s": (W.p50([s["end"] - s["start"] for s in tracer.spans
                                           if s["name"] == "lake.compact_deltas"]), "s"),
        "spark.jobs_per_batch": (spark_m("jobs"), "count"),
        "spark.shuffle_write_bytes": (spark_m("shuffle_write_bytes"), "B"),
        "spark.shuffle_read_bytes": (spark_m("shuffle_read_bytes"), "B"),
        "spark.spill_bytes": (spark_m("spill_bytes"), "B"),
        "spark.task_skew": (spark_m("task_skew"), "ratio"),
        "spark.core_busy_frac": (spark_m("core_busy_frac"), "ratio"),
        "spark.gc_s": (spark_m("gc_s"), "s"),
        "spark.executor_cpu_s": (spark_m("executor_cpu_s"), "s"),
    }
    for phase in tracing.MERGE_PHASES:
        m[f"lake.merge.{phase}_s"] = (per_batch(lambda b, p=phase: span_sum(b, f"lake.merge.{p}")), "s")
    return m


# --------------------------------------------------------------- main
def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    if args.scaling_leg:
        _scaling_leg(args)
        return 0
    try:
        import datacollector_spark  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"perfbench: engine package not found next to perfbench/: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    # One CPU is left to the driver JVM, the Python client and the JIT
    # compiler threads, which the per-batch fixed cost runs on.
    cores = args.cores or max(1, len(os.sched_getaffinity(0)) - 1)

    # Everything but the summary and the result goes to stderr, so the
    # JSON object is reliably the last line of standard output.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    stale = _clear_stale_work()
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    dirs = _environment(work)
    record: dict = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "cores": cores, "sizes": wl.sizes(args.seconds)}
    fs_paths = {"work_dir": work, "spark_local_dir": dirs["spark-local"]}
    record["host_before"] = host.snapshot("before", fs_paths)
    try:
        code, lines, result = _run(args, wl, cores, work, dirs, record, stale)
    finally:
        _shutdown_jvm()
        stale.join()
        record["host_after"] = host.snapshot("after", fs_paths)
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    hb, ha = record["host_before"], record["host_after"]
    lines.append(
        f"host nproc={hb['nproc']} loadavg_before={hb['loadavg'][0]:.2f} "
        f"loadavg_after={ha['loadavg'][0]:.2f} cpu_probe_before_s={hb['cpu_probe_s']:.4f} "
        f"cpu_probe_after_s={ha['cpu_probe_s']:.4f} "
        f"work_fs={hb['filesystems']['work_dir']['fstype']} "
        f"spark_local_fs={hb['filesystems']['spark_local_dir']['fstype']}"
    )
    for line in lines:
        print(line, file=result_out)
    print(json.dumps(result), file=result_out)
    result_out.flush()
    return code


def _run(args, wl, cores, work, dirs, record, stale):
    lines: list[str] = []
    con = oracle_gate.connect(work, cores)
    harness = record["harness_s"] = {}  # wall of each step of this run
    t_run = time.perf_counter()
    traced = bool(args.trace)
    conf = _conf(dirs, traced)
    tracer = tracing.Tracer() if traced else None
    transforms = None
    if traced:
        from datacollector_spark.operators.transforms import transcript_transforms

        transforms = tracer.wrap("operators.transcript_transforms", transcript_transforms)
    with host.RssSampler() as rss:
        t = time.perf_counter()
        spark = _session(wl.name, cores, conf)
        cold_s = time.perf_counter() - t
        t = time.perf_counter()
        segments = W.prepare_segments(spark, wl, args.seed, args.seconds, work)
        files = [s.path for s in segments]
        hot = W.hottest_conversations(segments, HOT_CONVERSATIONS)
        harness["load"] = time.perf_counter() - t
        t = time.perf_counter()
        warm_error = W.warm_up(spark, wl, os.path.join(work, "warm"), segments, args.seconds, hot)
        harness["warm_up"] = time.perf_counter() - t
        t = time.perf_counter()
        stale.join()  # never let the deletions overlap a timed step
        harness["stale_cleanup_wait"] = time.perf_counter() - t
        # Set-up is timed after the warm-up, in the same (warm) JVM; a cold
        # JVM's first session is session.cold_start_s.
        setup_s, get_spark_s = [], []
        for i in range(SETUPS):
            spark.stop()
            t = time.perf_counter()
            spark = _session(wl.name, cores, conf)
            get_spark_s.append(time.perf_counter() - t)
            rig = W.build_rig(spark, wl, os.path.join(work, f"rig-{i}"), transforms=transforms)
            setup_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        if traced:
            sink: list = []
            listener = tracing.progress_listener(spark, sink)
            with tracing.patched(tracer):
                run = W.run_pass(spark, wl, rig, segments, args.seconds, hot, progress_sink=sink)
            spark.streams.removeListener(listener)
        else:
            run = W.run_pass(spark, wl, rig, segments, args.seconds, hot)
        harness["pass"] = time.perf_counter() - t
    e2e = W.end_to_end(run)
    t = time.perf_counter()
    check = _check(rig, run, files, hot, work, con)
    harness["check"] = time.perf_counter() - t
    record.update(cold_start_s=cold_s, setup_s=setup_s, get_spark_s=get_spark_s,
                  samples=_run_record(run, e2e))
    app_id = spark.sparkContext.applicationId
    t = time.perf_counter()
    _shutdown_jvm()
    harness["shutdown"] = time.perf_counter() - t

    legs: dict = {}  # scaling legs (traced runs), each one operation
    if traced:
        log_name = next(n for n in os.listdir(dirs["eventlog"]) if app_id in n)
        log = tracing.read_event_log(os.path.join(dirs["eventlog"], log_name))
        batches = [b for q in run.queries for b in q["batches"]]
        sbatches = tracing.spark_batch_metrics(log, [(b["trigger"], b["commit"]) for b in batches], cores)
        for w, b in zip(sbatches, batches):
            w["batch_id"] = b["batch_id"]
        layer = _layer_metrics(tracer, run, sbatches)
        legs = {c: _run_leg(wl, segments, c, work, args.seed, args.seconds) for c in (cores, 1)}
        eff = (legs[cores]["events_per_s"] / legs[1]["events_per_s"] / cores
               if legs[1]["events_per_s"] > 0 else 0.0)
        layer.update(
            {
                "session.get_spark_s": (W.p50(get_spark_s), "s"),
                "session.cold_start_s": (cold_s, "s"),
                "spark.scaling_efficiency": (eff, "ratio"),
                # the traced run's end-to-end figures: minus the untraced
                # runs' medians, they are the tracing overhead
                "trace.batch_p50_s": (e2e["batch_p50_s"][0], "s"),
                "trace.ingest_events_per_s": (e2e["ingest_events_per_s"][0], "events/s"),
            }
        )
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(layer.items())}
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"{wl.name}-seed{args.seed}-spans.json"))
        record.update(layers=metrics, scaling_legs=legs, spark_batches=sbatches)
        lines.append(f"scaling legs: local[{cores}] {legs[cores]['events_per_s']:.1f} events/s, "
                     f"local[1] {legs[1]['events_per_s']:.1f} events/s")
        for name, (v, n) in e2e.items():
            lines.append(f"traced {name} = {v:.6g} (n={n})")
    else:
        units = {"first_commit_s": "s", "ingest_events_per_s": "events/s", "batch_p50_s": "s",
                 "batch_p90_s": "s", "commit_lag_p50_s": "s", "commit_lag_p90_s": "s",
                 "snapshot_read_p50_s": "s", "point_read_p50_s": "s"}
        samples = {k: n for k, (_v, n) in e2e.items()}
        values = {k: v for k, (v, _n) in e2e.items()}
        values.update(setup_s=W.p50(setup_s),
                      storage_amplification=check["table_bytes"] / check["live_bytes"],
                      peak_rss_mb=rss.peak_mb)
        units.update(setup_s="s", storage_amplification="ratio", peak_rss_mb="MB")
        samples.update(setup_s=len(setup_s), storage_amplification=1, peak_rss_mb=rss.samples)
        metrics = {k: {"value": values[k], "unit": units[k]} for k in END_TO_END}
        for k in values:
            lines.append(f"{k} = {values[k]:.6g} {units[k]} (n={samples[k]})")

    harness["total"] = time.perf_counter() - t_run
    # the warm-up counts as one operation
    attempted = sum(run.attempted.values()) + len(legs) + 1
    failed = (sum(run.failed.values()) + sum(1 for leg in legs.values() if leg["events_per_s"] <= 0)
              + (warm_error is not None))
    lines.append(f"failed_frac = {failed / attempted if attempted else 0.0:.6g} "
                 f"({failed} failed of {attempted} attempted: batches, reads, segments"
                 f"{', scaling legs' if legs else ''})")
    c = check
    lines.append(f"oracle match={c['match']} rows={c['engine_rows']}/{c['oracle_rows']} "
                 f"missing={c['missing_rows']} extra={c['extra_rows']} "
                 f"negative_control_caught={c['negative_control_caught']} reads_ok={c['reads_ok']}")
    lines.extend(f"error: {e}" for e in run.errors + ([f"warm-up: {warm_error}"] if warm_error else []))
    correct = c["match"] and c["negative_control_caught"] and c["reads_ok"]
    record["check"] = check
    con.close()
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return (0 if correct else 1), lines, result


# The end-to-end metrics of BENCHMARK.json. batch_p90_s is printed only
# where a run has at least 100 steady batches, which bulk_catchup never has.
END_TO_END = [
    "setup_s", "first_commit_s", "ingest_events_per_s", "batch_p50_s",
    "commit_lag_p50_s", "commit_lag_p90_s", "snapshot_read_p50_s", "point_read_p50_s",
    "storage_amplification", "peak_rss_mb",
]


def _run_record(run, e2e) -> dict:
    """Raw samples of a pass for the run's output file."""
    return {
        "end_to_end": {k: {"value": v, "samples": n} for k, (v, n) in e2e.items()},
        "queries": run.queries,
        "segments": run.segments,
        "snapshot_read_s": run.snapshot_s,
        "point_read_s": run.point_s,
        "delta_files_pending": run.delta_pending,
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
    }


def _check(rig, run, files, hot, work, con) -> dict:
    """Oracle gate (outside every timed window), plus the consistency of
    the reads taken on the final state."""
    live = os.path.join(work, "live")
    W.write_live_snapshot(rig.table, live)
    res = oracle_gate.check(con, files, live)
    res["table_bytes"] = W.dir_bytes(rig.table.path)
    res["live_bytes"] = W.dir_bytes(live)
    expected = oracle_gate.conversation_rows(con, hot)
    res["reads_ok"] = (
        all(n == res["oracle_rows"] for n, _x in run.final_snapshots)
        and len({x for _n, x in run.final_snapshots}) <= 1
        and all(n == expected[c] for c, n in run.final_points.items())
    )
    return res


if __name__ == "__main__":
    sys.exit(main())
