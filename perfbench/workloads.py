"""The three CDC ingest workloads and the end-to-end metrics they yield.

Every workload drives the engine only through its public API
(``LakeTable``, ``CdcIngestPipeline``, ``transcript_transforms``). Inputs are
change-log segments made by the engine's seeded generator before anything is
timed; the pipeline only ever sees the segment files.

* ``bulk_catchup`` (closed loop): a backlog written before the query starts
  is drained by ``run_available_now`` in large copy-on-write batches, in
  three parts, each by its own query. The data path dominates: the stats scan,
  the collapse shuffle, the COW join and the bucket rewrite.
* ``trickle_tail`` (open loop): after three restarts, ``run_continuous``
  tails a directory into which small segments are landed by atomic
  ``os.replace`` on a fixed schedule that does not wait for the engine. A
  small, hot key space makes nearly every event an update. The per-batch
  fixed cost dominates.
* ``mor_read_mix`` (closed loop, rounds): each round lands a few segments,
  drains them into a merge-on-read table (compacting every 8 batches), then
  runs snapshot and point reads. Writes next to reads; the COW join is not
  used, so a COW-only change should leave it flat, and a change that moves
  collapse work onto readers shows as a read regression.

Sizes scale with ``--seconds`` so that a run measures for about that long on
a 4-core host; the smoke self-test uses the same code at a tiny size. Every
run first warms up on a prefix of its own change log (:func:`warm_up`).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, replace
from datetime import datetime

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


@dataclass(frozen=True)
class Workload:
    name: str
    merge_mode: str
    buckets: int
    max_files_per_trigger: int | None
    mor_compact_every: int | None
    snapshot_reads: int  # per read phase
    point_reads: int  # per read phase
    scaling_segments: int  # prefix drained by the traced scaling legs
    scaling_files_per_trigger: int
    warm_segments: int  # prefix run through the untimed warm-up pass

    def sizes(self, seconds: int) -> dict:
        """Input sizes for a run of ``seconds``."""
        s = max(int(seconds), 1)
        if self.name == "bulk_catchup":
            # about one batch per second, in BULK_ROUNDS equal parts
            n = BULK_SEGMENTS_PER_BATCH * BULK_ROUNDS * max(2, -(-s // BULK_ROUNDS))
            events = n * BULK_EVENTS_PER_SEGMENT
            return {"segments": n, "events": events, "conversations": events // 10}
        if self.name == "trickle_tail":
            n = TRICKLE_STARTS + int(TRICKLE_SEGMENTS_PER_S * s)
            return {
                "segments": n,
                "events": n * TRICKLE_EVENTS_PER_SEGMENT,
                "conversations": 1_600,
                "rate_segments_per_s": TRICKLE_SEGMENTS_PER_S,
            }
        # 3 batches a round and compaction every 8 batches: the reads see
        # 48, 96, 16 and 64 pending delta files in turn
        rounds = 4 * max(1, s // 8)
        n = rounds * MOR_SEGMENTS_PER_ROUND
        return {
            "segments": n,
            "events": n * MOR_EVENTS_PER_SEGMENT,
            "conversations": 4_000,
            "rounds": rounds,
        }


TEXT_CHARS = 512  # transcript turns run to hundreds of bytes
ZIPF = 1.2  # a few hot conversations take a large share of the events
BULK_SEGMENTS_PER_BATCH = 13  # >= 100 segments, so commit_lag_p90_s has ten beyond it
BULK_ROUNDS = 3
BULK_EVENTS_PER_SEGMENT = 1_500
TRICKLE_SEGMENTS_PER_S = 12.5
TRICKLE_EVENTS_PER_SEGMENT = 500
TRICKLE_STARTS = 4  # query starts, each one first_commit_s sample
# Reads of each kind in the warm-up. The first reads of a run are the
# slowest (up to 2x the last), so the read path is warmed as well.
WARM_READS = 16
MOR_SEGMENTS_PER_ROUND = 32
MOR_EVENTS_PER_SEGMENT = 625

WORKLOADS = {
    w.name: w
    for w in (
        Workload("bulk_catchup", merge_mode="cow", buckets=32,
                 max_files_per_trigger=BULK_SEGMENTS_PER_BATCH,
                 mor_compact_every=None, snapshot_reads=21, point_reads=21,
                 scaling_segments=3 * BULK_SEGMENTS_PER_BATCH,
                 scaling_files_per_trigger=BULK_SEGMENTS_PER_BATCH,
                 warm_segments=BULK_ROUNDS * BULK_SEGMENTS_PER_BATCH),
        Workload("trickle_tail", merge_mode="cow", buckets=16, max_files_per_trigger=None,
                 mor_compact_every=None, snapshot_reads=25, point_reads=25,
                 scaling_segments=6, scaling_files_per_trigger=1,
                 warm_segments=TRICKLE_STARTS + 20),
        Workload("mor_read_mix", merge_mode="mor", buckets=16, max_files_per_trigger=11,
                 mor_compact_every=8, snapshot_reads=3, point_reads=4,
                 scaling_segments=33, scaling_files_per_trigger=11,
                 warm_segments=20),
    )
}


# ------------------------------------------------------------- inputs
@dataclass
class Segment:
    idx: int
    path: str  # staged copy; never read by the engine in place
    events: int
    bytes: int


def prepare_segments(spark, wl: Workload, seed: int, seconds: int, work: str) -> list[Segment]:
    """Generate the seeded change log and stage it as ordered segment files
    (untimed load preparation). Modification times increase with delivery
    order, so the file source takes segments in order under
    ``maxFilesPerTrigger``."""
    import pyarrow.parquet as pq

    from datacollector_spark.sources.generator import (
        ChangelogSpec,
        generate_changelog,
        write_segments,
    )

    sz = wl.sizes(seconds)
    spec = ChangelogSpec(
        n_events=sz["events"],
        n_conversations=sz["conversations"],
        seed=seed,
        zipf_exponent=ZIPF,
        min_text_chars=TEXT_CHARS,
    )
    raw = os.path.join(work, "generated")
    write_segments(generate_changelog(spark, spec), raw, sz["segments"])
    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    base = time.time() - 10 * len(os.listdir(raw))
    out = []
    for i, f in enumerate(sorted(glob.glob(os.path.join(raw, "part-*.parquet")))):
        dst = os.path.join(staged, f"seg-{i:05d}.parquet")
        os.replace(f, dst)
        os.utime(dst, (base + i, base + i))
        out.append(
            Segment(i, dst, pq.ParquetFile(dst).metadata.num_rows, os.path.getsize(dst))
        )
    shutil.rmtree(raw)
    return out


def hottest_conversations(segments: list[Segment], k: int) -> list[str]:
    """The ``k`` conversations with the most change events (ties by id)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = pa.concat_arrays(
        [pq.read_table(s.path, columns=["conv_id"])["conv_id"].combine_chunks() for s in segments]
    )
    counts = ids.value_counts().to_pylist()
    counts.sort(key=lambda c: (-c["counts"], c["values"]))
    return [c["values"] for c in counts[:k]]


def stage_copy(segments: list[Segment], dst_dir: str) -> list[str]:
    """Hard-link (or copy) the staged segments into a per-pass staging dir,
    preserving modification times; returns the new paths in order."""
    os.makedirs(dst_dir)
    paths = []
    for s in segments:
        p = os.path.join(dst_dir, os.path.basename(s.path))
        try:
            os.link(s.path, p)
        except OSError:
            shutil.copy2(s.path, p)
        paths.append(p)
    return paths


# --------------------------------------------------------------- rigs
@dataclass
class Rig:
    table: object
    pipe: object
    src: str
    ckpt: str
    root: str


def build_rig(spark, wl: Workload, root: str, transforms=None) -> Rig:
    """LakeTable.create + pipeline construction (part of set-up time)."""
    from datacollector_spark.lake import LakeTable
    from datacollector_spark.model import KEY_COLUMNS, transcripts_schema
    from datacollector_spark.operators.transforms import transcript_transforms
    from datacollector_spark.streaming import CdcIngestPipeline

    src = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    table = LakeTable.create(
        spark, os.path.join(root, "table"), transcripts_schema(), KEY_COLUMNS,
        num_buckets=wl.buckets,
    )
    pipe = CdcIngestPipeline(
        spark,
        src,
        table,
        ckpt,
        transforms=transforms or transcript_transforms,
        lineage_dir=os.path.join(root, "lineage"),
        max_files_per_trigger=wl.max_files_per_trigger,
        expire_keep=2,
        merge_mode=wl.merge_mode,
        mor_compact_every=wl.mor_compact_every,
    )
    return Rig(table, pipe, src, ckpt, root)


# ------------------------------------------------------ query plumbing
def _ts(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def batches_of(progress) -> list[dict]:
    """Micro-batches that carried input, from StreamingQueryProgress
    updates: trigger time, trigger-to-commit wall, commit time, rows and the
    ``durationMs`` breakdown in seconds."""
    seen: dict[int, dict] = {}
    for p in progress:
        if not p.numInputRows:
            continue
        d = {k: v / 1000.0 for k, v in p.durationMs.items()}
        t0 = _ts(p.timestamp)
        seen[p.batchId] = {
            "batch_id": p.batchId,
            "trigger": t0,
            "wall": d["triggerExecution"],
            "commit": t0 + d["triggerExecution"],
            "rows": p.numInputRows,
            "durations": d,
        }
    return [seen[k] for k in sorted(seen)]


def source_log(ckpt: str) -> dict[str, int]:
    """Segment file name -> micro-batch id, from the file source's
    metadata log in the checkpoint."""
    out: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def committed_batch(ckpt: str) -> int:
    """Highest committed micro-batch id (-1 if none)."""
    d = os.path.join(ckpt, "commits")
    ids = [int(n) for n in os.listdir(d) if n.isdigit()] if os.path.isdir(d) else []
    return max(ids, default=-1)


def drain(spark, pipe) -> tuple[object, float, BaseException | None]:
    """Run ``pipe.run_available_now()`` and return (query, start, error).
    The call runs on a helper thread so the query handle can be picked up
    from ``spark.streams.active`` for its progress history."""
    before = {q.id for q in spark.streams.active}
    err: list[BaseException] = []

    def target():
        try:
            pipe.run_available_now()
        except Exception as e:  # reported as a failed batch by the caller
            err.append(e)

    th = threading.Thread(target=target, daemon=True)
    t0 = time.time()
    th.start()
    q = None
    while q is None and th.is_alive():
        q = next((a for a in spark.streams.active if a.id not in before), None)
        if q is None:
            time.sleep(0.01)
    th.join()
    return q, t0, (err[0] if err else None)


# -------------------------------------------------------------- reads
def snapshot_read(table):
    from pyspark.sql import functions as F

    r = table.read().agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*PAYLOAD)).alias("x")
    ).collect()[0]
    return int(r["n"]), r["x"]


def point_read(table, conv: str) -> int:
    from pyspark.sql import functions as F

    return len(table.read().where(F.col("conv_id") == conv).collect())


class Run:
    """Raw samples of one pass over a workload."""

    def __init__(self):
        self.queries: list[dict] = []  # {"start", "batches"}
        self.segments: list[dict] = []  # {"name","sched","landed","events","bytes"}
        self.snapshot_s: list[float] = []
        self.point_s: list[float] = []
        # (count, checksum) of each snapshot read and the row count of each
        # point read in the latest read phase, i.e. on the final state
        self.final_snapshots: list[tuple] = []
        self.final_points: dict[str, int] = {}
        self.delta_pending: list[int] = []
        self.attempted = {"batches": 0, "reads": 0, "segments": 0}
        self.failed = {"batches": 0, "reads": 0, "segments": 0}
        self.errors: list[str] = []
        self.deadline: float | None = None  # open loop: commit-by time

    def read_phase(self, table, hot: list[str], n_snap: int, n_point: int) -> None:
        """Snapshot and point reads, interleaved so that both kinds sample
        the same stretch of time."""
        self.delta_pending.append(table.delta_file_count())
        self.final_snapshots, self.final_points = [], {}
        for i in range(max(n_snap, n_point)):
            if i < n_snap:
                res = self._timed("snapshot read", self.snapshot_s, snapshot_read, table)
                if res is not None:
                    self.final_snapshots.append(res)
            if i < n_point:
                conv = hot[i % len(hot)]
                n = self._timed("point read", self.point_s, point_read, table, conv)
                if n is not None:
                    self.final_points[conv] = n

    def _timed(self, what: str, samples: list[float], fn, *args):
        """One read, timed into ``samples``; None if it raised."""
        self.attempted["reads"] += 1
        t = time.perf_counter()
        try:
            res = fn(*args)
        except Exception as e:
            self.failed["reads"] += 1
            self.errors.append(f"{what}: {e!r}")
            return None
        samples.append(time.perf_counter() - t)
        return res

    def add_query(self, q, start: float, err, progress=None) -> None:
        """Record a finished query's batches; ``progress`` overrides the
        query's own history (the traced pass uses its listener's copy)."""
        if progress is None:
            progress = q.recentProgress if q is not None else []
        batches = batches_of(progress)
        if err is not None:
            self.failed["batches"] += 1
            self.attempted["batches"] += 1
            self.errors.append(f"query: {err!r}")
        self.attempted["batches"] += len(batches)
        self.queries.append({"start": start, "batches": batches})


# ---------------------------------------------------------- the passes
def run_pass(spark, wl: Workload, rig: Rig, segments: list[Segment], seconds: int,
             hot: list[str], progress_sink: list | None = None) -> Run:
    """One measured pass of ``wl`` on a fresh rig. ``progress_sink`` is the
    traced pass's listener list; progress is read from it instead of the
    query's history when given."""
    staged = stage_copy(segments, os.path.join(rig.root, "staged"))
    run = Run()
    if wl.name == "bulk_catchup":
        _bulk(spark, wl, rig, segments, staged, run, progress_sink)
    elif wl.name == "trickle_tail":
        _trickle(spark, wl, rig, segments, staged, seconds, run, progress_sink)
    else:
        _mor(spark, wl, rig, segments, staged, seconds, run, hot, progress_sink)
    if wl.name != "mor_read_mix":
        run.read_phase(rig.table, hot, wl.snapshot_reads, wl.point_reads)
    _attach_commits(run, rig.ckpt)
    return run


def warm_up(spark, wl: Workload, root: str, segments: list[Segment], seconds: int,
            hot: list[str]) -> str | None:
    """Untimed: a short pass of ``wl`` over a prefix of the change log on a
    throwaway rig, with fewer reads, so that the measured pass starts on warm
    JIT and code caches. A single JVM keeps getting faster over its first
    passes; a warm-up with only a few batches left the measured pass on the
    steep part of that curve, and its speed varied by 25% between runs.
    Returns the first error, if any (counted as one failed operation)."""
    try:
        run = run_pass(spark, replace(wl, snapshot_reads=WARM_READS, point_reads=WARM_READS),
                       build_rig(spark, wl, root), segments[: wl.warm_segments], seconds, hot)
        err = None
        if run.errors or any(run.failed.values()):
            err = run.errors[0] if run.errors else f"failed operations: {run.failed}"
    except Exception as e:
        err = repr(e)
    shutil.rmtree(root, ignore_errors=True)
    return err


def _progress_since(sink, mark, ckpt):
    """The listener's progress updates since ``mark``. Listener events are
    delivered asynchronously, so wait (bounded) until the update of the
    last committed batch has arrived."""
    if sink is None:
        return None
    last = committed_batch(ckpt)
    deadline = time.time() + 10
    while time.time() < deadline and not any(p.batchId >= last for p in sink[mark:]):
        time.sleep(0.02)
    return list(sink[mark:])


def _land(path: str, src: str) -> None:
    os.replace(path, os.path.join(src, os.path.basename(path)))


def _bulk(spark, wl, rig, segments, staged, run, sink):
    # The backlog comes in BULK_ROUNDS parts, each drained by its own
    # AvailableNow query as a periodic catch-up job would; each query's
    # first commit is one sample of the restart cost.
    k = len(staged) // BULK_ROUNDS
    for r in range(BULK_ROUNDS):
        part = range(r * k, len(staged) if r == BULK_ROUNDS - 1 else (r + 1) * k)
        for i in part:
            _land(staged[i], rig.src)
        mark = len(sink) if sink is not None else 0
        q, t0, err = drain(spark, rig.pipe)
        for i in part:
            run.segments.append(_seg(segments[i], sched=t0, landed=t0))
        run.add_query(q, t0, err, _progress_since(sink, mark, rig.ckpt))


def _seg(s: Segment, sched: float, landed: float) -> dict:
    return {
        "name": os.path.basename(s.path),
        "sched": sched,
        "landed": landed,
        "events": s.events,
        "bytes": s.bytes,
    }


def _wait_committed(ckpt: str, names: set[str], deadline: float, q) -> bool:
    while time.time() < deadline:
        done = committed_batch(ckpt)
        log = source_log(ckpt)
        if all(n in log and log[n] <= done for n in names):
            return True
        if q is not None and not q.isActive:
            return False
        time.sleep(0.05)
    return False


def _trickle(spark, wl, rig, segments, staged, seconds, run, sink):
    rate = wl.sizes(seconds)["rate_segments_per_s"]
    # Restarts: one segment lands before each query start, and that query's
    # first commit is one sample of the restart cost. All but the last
    # query stop there; the last one tails the open-loop schedule, which
    # starts after its first commit.
    for i in range(TRICKLE_STARTS):
        mark = len(sink) if sink is not None else 0
        t_land = time.time()
        _land(staged[i], rig.src)
        run.segments.append(_seg(segments[i], t_land, t_land))
        t0 = time.time()
        q = rig.pipe.run_continuous(processing_time="0 seconds")
        _wait_committed(rig.ckpt, {os.path.basename(staged[i])}, t0 + 120, q)
        if i < TRICKLE_STARTS - 1:
            _stop(q, run, t0, sink, mark, rig.ckpt)

    # The schedule never waits for the engine: segment i is due at
    # start + (i - TRICKLE_STARTS)/rate however far behind the query is.
    start = time.time() + 0.05
    period = 1.0 / rate
    for i in range(TRICKLE_STARTS, len(staged)):
        sched = start + (i - TRICKLE_STARTS) * period
        delay = sched - time.time()
        if delay > 0:
            time.sleep(delay)
        _land(staged[i], rig.src)
        run.segments.append(_seg(segments[i], sched, time.time()))
    # Segments not committed within this grace after the schedule ends
    # count as failed operations.
    run.deadline = start + (len(staged) - TRICKLE_STARTS - 1) * period + 10.0
    names = {os.path.basename(p) for p in staged}
    ok = _wait_committed(rig.ckpt, names, run.deadline, q)
    if not ok and q.isActive:
        # Keep draining (bounded) so the oracle sees the complete input;
        # the late segments are counted as failed all the same.
        _wait_committed(rig.ckpt, names, time.time() + 60, q)
    _stop(q, run, t0, sink, mark, rig.ckpt)


def _stop(q, run, start, sink, mark, ckpt):
    err = q.exception() if not q.isActive else None
    q.stop()
    run.add_query(q, start, err, _progress_since(sink, mark, ckpt))


def _mor(spark, wl, rig, segments, staged, seconds, run, hot, sink):
    rounds = wl.sizes(seconds)["rounds"]
    k = len(staged) // rounds
    for r in range(rounds):
        mark = len(sink) if sink is not None else 0
        t_land = time.time()
        for i in range(r * k, (r + 1) * k):
            _land(staged[i], rig.src)
            run.segments.append(_seg(segments[i], t_land, time.time()))
        q, t0, err = drain(spark, rig.pipe)
        run.add_query(q, t0, err, _progress_since(sink, mark, rig.ckpt))
        run.read_phase(rig.table, hot, wl.snapshot_reads, wl.point_reads)


def _attach_commits(run: Run, ckpt: str) -> None:
    """Segment -> commit time of the batch that carried it; backlog at
    each landing (segments landed but not committed at that instant)."""
    log = source_log(ckpt)
    commit = {b["batch_id"]: b["commit"] for q in run.queries for b in q["batches"]}
    for s in run.segments:
        bid = log.get(s["name"])
        s["batch_id"] = bid
        s["commit"] = commit.get(bid)
        run.attempted["segments"] += 1
        late = run.deadline is not None and (s["commit"] or 0) > run.deadline
        if s["commit"] is None or late:
            run.failed["segments"] += 1
    for s in run.segments:
        t = s["landed"]
        s["backlog_at_landing"] = sum(
            1
            for o in run.segments
            if o["landed"] <= t and (o["commit"] is None or o["commit"] > t)
        )


# ------------------------------------------------------------ metrics
def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(run: Run) -> dict:
    """End-to-end metrics of one pass, each with its sample count."""
    firsts, steady_walls, ev, span = [], [], 0, 0.0
    for q in run.queries:
        b = q["batches"]
        if not b:
            continue
        firsts.append(b[0]["commit"] - q["start"])
        steady_walls.extend(x["wall"] for x in b[1:])
        if len(b) > 1:
            ev += sum(x["rows"] for x in b[1:])
            span += b[-1]["commit"] - b[0]["commit"]
    lags = [s["commit"] - s["sched"] for s in run.segments if s["commit"] is not None]
    out = {
        "first_commit_s": (p50(firsts), len(firsts)),
        "ingest_events_per_s": (ev / span if span > 0 else 0.0, len(steady_walls)),
        "batch_p50_s": (p50(steady_walls), len(steady_walls)),
        "commit_lag_p50_s": (p50(lags), len(lags)),
        "commit_lag_p90_s": (p90(lags) if len(lags) > 1 else 0.0, len(lags)),
        "snapshot_read_p50_s": (p50(run.snapshot_s), len(run.snapshot_s)),
        "point_read_p50_s": (p50(run.point_s), len(run.point_s)),
    }
    if len(steady_walls) >= 100:  # p90 needs ten samples beyond it
        out["batch_p90_s"] = (p90(steady_walls), len(steady_walls))
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _d, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def write_live_snapshot(table, out_dir: str) -> None:
    """The table's live snapshot written once, laid out one file per bucket
    like the table, with the session's (the table's) codec."""
    keys = table.key_columns
    (
        table.read()
        .withColumn("_b", table.bucket_expr(*keys))
        .repartition(table.num_buckets, "_b")
        .drop("_b")
        .sortWithinPartitions(*keys)
        .write.parquet(out_dir)
    )
