"""The three workloads. Each drives the package only through its public
functions, checks the outputs, and returns a :class:`Result`.

End-to-end metrics every workload reports (run.py adds ``setup_s``):

==================  =====================  ======================  ====================
metric              record_live            replay_range            neardup_stream
==================  =====================  ======================  ====================
latency_p50_s       record due -> visible  call -> first delivery  probe micro-batch
latency_p90_s       same, p90              same, p90               same, p90
throughput_per_s    burst records/s        replayed records/s      probe documents/s
==================  =====================  ======================  ===================="""

from __future__ import annotations

import binascii
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs
from perfbench.kinesis_double import KinesisDoubleFactory, read_spool
from perfbench.trace import ProgressCollector, Tracer


@dataclass
class Result:
    tracer: Tracer
    end_to_end: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def phase(self, name: str, since: float) -> float:
        """Record how long a phase took (run-info only); returns now."""
        now = time.perf_counter()
        self.info.setdefault("phase_s", {})[name] = round(now - since, 3)
        return now

    def check(self, ok: bool, message: str) -> None:
        """Count one checked operation; a failed check fails the run."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(message)


def metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run(name: str, spark, work: str, seed: int, seconds: float, trace: bool) -> Result:
    tracer = Tracer(spark, trace)
    fn = {
        "record_live": record_live,
        "replay_range": replay_range,
        "neardup_stream": neardup_stream,
    }[name]
    try:
        return fn(spark, work, seed, seconds, tracer)
    finally:
        tracer.restore()


# ---------------------------------------------------------------------------
# record_live
# ---------------------------------------------------------------------------

RECORD_RATE = 10_000  # records/s, open loop
RECORD_TICK_S = 0.05  # one source file per tick
RECORD_WARMUP_S = 10.0  # untimed open-loop warm-up: the record path's JIT settles
#: backlog bursts after the live window: the first is untimed, because
#: the first large batch after many small ones runs about a third slower
RECORD_BURSTS = 6
RECORD_BURST = 240_000  # records per burst, landing at once on an idle stream
#: one file per core: four renames land a burst in one trigger almost
#: always (sixteen split about one burst in twenty across two triggers)
RECORD_BURST_FILES = 4


def _write_record_file(src: str, name: str, builder, seqs, created_ns: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    offsets, data = builder.build(seqs, created_ns)
    n = len(seqs)
    table = pa.table(
        {
            "data": pa.Array.from_buffers(
                pa.binary(), n, [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)]
            ),
            "sequence_number": pa.array(seqs.astype(str)),
            "partition_key": pa.array(np.char.add("pk", (seqs % 16).astype(str))),
            "shard_id": pa.array(np.full(n, "shardId-000000000000")),
            "arrival_ts": pa.array(np.full(n, created_ns // 1000, dtype="datetime64[us]")),
        }
    )
    tmp = os.path.join(src, f".{name}.tmp")
    pq.write_table(table, tmp, compression="none")
    os.replace(tmp, os.path.join(src, name))


class _OpenLoop(threading.Thread):
    """Fixed-rate generator: tick k lands records due in
    ``(t0 + k*tick, t0 + (k+1)*tick]`` as one file when the tick ends."""

    def __init__(self, src, builder, first_seq, seconds, prefix) -> None:
        super().__init__(name="perfbench-open-loop", daemon=True)
        self.src = src
        self.prefix = prefix
        self.builder = builder
        self.first_seq = first_seq
        self.per_tick = int(RECORD_RATE * RECORD_TICK_S)
        self.ticks = max(1, int(round(seconds / RECORD_TICK_S)))
        self.t0_ns = 0
        self.created: list[int] = []
        self.late_s: list[float] = []
        self.error: Exception | None = None

    @property
    def records(self) -> int:
        return self.per_tick * self.ticks

    def due_ns(self, seqs: np.ndarray) -> np.ndarray:
        return self.t0_ns + ((seqs - self.first_seq) * 1_000_000_000) // RECORD_RATE

    def run(self) -> None:
        try:
            tick_ns = int(RECORD_TICK_S * 1e9)
            self.t0_ns = time.time_ns() + tick_ns
            for k in range(self.ticks):
                due_end = self.t0_ns + (k + 1) * tick_ns
                wait = (due_end - time.time_ns()) / 1e9
                if wait > 0:
                    time.sleep(wait)
                seqs = np.arange(self.per_tick, dtype=np.int64) + (
                    self.first_seq + k * self.per_tick
                )
                created = time.time_ns()
                _write_record_file(self.src, f"{self.prefix}-{k:06d}.parquet", self.builder, seqs, created)
                self.created.append(created)
                self.late_s.append((time.time_ns() - due_end) / 1e9)
        except Exception as exc:  # noqa: BLE001 — re-raised on the main thread
            self.error = exc


def _sink_batches(log: str, after: int, seen: set[str]) -> list[tuple[int, int, list[tuple[str, int]]]]:
    """(batch id, commit ns, [(data file, size)]) for every batch after
    ``after`` in the file sink's ``_spark_metadata`` log. A ``N.compact``
    file holds every entry up to batch N, so a batch's own files are its
    entries minus the ones in ``seen``, which this call extends."""
    out = []
    entries = []
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        batch = int(name.split(".")[0])
        if batch > after:
            entries.append((batch, name))
    for batch, name in sorted(entries):
        path = os.path.join(log, name)
        commit_ns = os.stat(path).st_mtime_ns
        files = []
        with open(path) as fh:
            next(fh)  # version line
            for line in fh:
                e = json.loads(line)
                p = e["path"]
                if p in seen or e.get("action", "add") != "add":
                    continue
                seen.add(p)
                files.append((p.removeprefix("file:"), int(e["size"])))
        out.append((batch, commit_ns, files))
    return out


class _ArchiveCheck:
    """Checks the record archive batch by batch while the stream is idle.

    Every archived line must decode to the exact bytes that were sent for
    its sequence number. A checked data file is deleted at once, and so
    is every consumed source file: a run writes over a gigabyte, and
    files removed before the kernel's writeback reaches them never cost
    disk writes in a later measured window.
    """

    def __init__(self, archive: str, src: str, builder) -> None:
        self.log = os.path.join(archive, "_spark_metadata")
        self.src = src
        self.builder = builder
        self.seen: set[str] = set()
        self.last_batch = -1
        self.commit_of: dict[int, int] = {}
        self.files_of: dict[int, int] = {}
        self.archive_bytes = 0
        self.unknown = self.malformed = self.mismatched = 0
        self.seqs: list[np.ndarray] = []  # archived sequence numbers, per data file
        self.batch_of: list[int] = []  # the batch of each entry in ``seqs``

    def check_new(self, groups: list[tuple[int, int, int]]) -> list[int]:
        """Check the batches committed since the last call against
        ``groups`` (first seq, count, created ns); returns their ids."""
        for name in os.listdir(self.src):
            if not name.startswith("."):
                os.remove(os.path.join(self.src, name))
        total = groups[-1][0] + groups[-1][1]
        group_first = np.array([g[0] for g in groups], dtype=np.int64)
        group_created = np.array([g[2] for g in groups], dtype=np.int64)
        new = []
        for batch, commit_ns, files in _sink_batches(self.log, self.last_batch, self.seen):
            new.append(batch)
            self.last_batch = batch
            self.commit_of[batch] = commit_ns
            self.files_of[batch] = len(files)
            for path, size in files:
                self.archive_bytes += size
                with open(path, "rb") as fh:
                    buf = fh.read()
                os.remove(path)
                try:
                    offsets, data = inputs.decode_base64_lines(buf)
                except binascii.Error:
                    self.malformed += 1
                    continue
                self._check_file(batch, offsets, data, total, group_first, group_created)
        return new

    def _check_file(self, batch, offsets, data, total, group_first, group_created) -> None:
        seqs = inputs.seqs_of(offsets, data)
        known = (seqs >= 0) & (seqs < total)
        if not known.all():
            self.unknown += int((~known).sum())
            seqs = seqs[known]
            offsets, data = inputs.take_lines(offsets, data, known)
        self.seqs.append(seqs)
        self.batch_of.append(batch)
        # rebuild what was sent for these sequence numbers and compare bytes
        created = group_created[np.searchsorted(group_first, seqs, side="right") - 1]
        exp_off, exp = self.builder.build(seqs, created)
        same_len = np.diff(offsets) == np.diff(exp_off)
        if not same_len.all():
            self.mismatched += int((~same_len).sum())
            offsets, data = inputs.take_lines(offsets, data, same_len)
            exp_off, exp = inputs.take_lines(exp_off, exp, same_len)
        if len(data) and not np.array_equal(data, exp):
            self.mismatched += int(np.logical_or.reduceat(data != exp, offsets[:-1]).sum())

    def finish(self, res: Result, total: int) -> np.ndarray:
        """Record the checks on ``res``; returns each sequence number's
        batch (-1 where a record was never archived)."""
        seqs = np.concatenate(self.seqs) if self.seqs else np.zeros(0, dtype=np.int64)
        batches = np.repeat(np.array(self.batch_of, dtype=np.int64), [len(x) for x in self.seqs])
        count = np.bincount(seqs, minlength=total)
        seq_batch = np.full(total, -1, dtype=np.int64)
        seq_batch[seqs] = batches
        missing = int((count == 0).sum())
        dupes = int((count > 1).sum())
        res.check(self.malformed == 0, f"{self.malformed} archive files hold malformed base64 lines")
        res.check(self.unknown == 0, f"archive holds {self.unknown} records with unknown sequence numbers")
        res.check(missing == 0, f"{missing} records never archived")
        res.check(dupes == 0, f"{dupes} records archived more than once")
        res.check(self.mismatched == 0, f"{self.mismatched} archived records differ from what was sent")
        return seq_batch


def record_live(spark, work, seed, seconds, tracer: Tracer) -> Result:
    from kinesis_vcr_spark.config import VcrConfig
    from kinesis_vcr_spark.model import RECORD_SCHEMA
    from kinesis_vcr_spark.streaming.record import record_stream

    res = Result(tracer)
    t = time.perf_counter()
    builder = inputs.PayloadBuilder(seed, inputs.RECORD_SIZE_MIX)
    src = os.path.join(work, "record-src")
    os.makedirs(src)
    config = VcrConfig(
        archive_root=os.path.join(work, "record-archive"),
        source_stream="live",
        checkpoint_location=os.path.join(work, "record-ckpt"),
    )
    listener = None
    if tracer.enabled:
        listener = ProgressCollector()
        spark.streams.addListener(listener)

    source = spark.readStream.schema(RECORD_SCHEMA).parquet(src)
    started = time.perf_counter()
    with tracer.span("streaming.record.record_stream", tag_jobs=False):
        query = record_stream(source, config, trigger_seconds=0)
    run_id = str(query.runId)
    tracer.tag_run(run_id, started)
    checker = _ArchiveCheck(config.archive_path, src, builder)
    check_s = 0.0
    # groups of records sharing a creation time: (first seq, count, created ns)
    groups: list[tuple[int, int, int]] = []
    first = 0

    def drained() -> list[int]:
        """Wait until the stream has committed everything landed so far,
        then check it (untimed); returns the new batch ids."""
        nonlocal check_s
        query.processAllAvailable()
        t0 = time.perf_counter()
        new = checker.check_new(groups)
        check_s += time.perf_counter() - t0
        return new

    def burst(b: int) -> tuple[int, int, list[int]]:
        """Stage one burst under hidden names, rename it in at once onto
        the idle stream and drain it; nothing else runs while it drains.
        Returns (first seq, land ns, its batch ids)."""
        nonlocal first
        created = time.time_ns()
        per_file = RECORD_BURST // RECORD_BURST_FILES
        for f in range(RECORD_BURST_FILES):
            seqs = np.arange(per_file, dtype=np.int64) + first + f * per_file
            _write_record_file(src, f".burst-{b}-{f}.staged", builder, seqs, created)
            groups.append((int(seqs[0]), per_file, created))
        land_ns = time.time_ns()
        for f in range(RECORD_BURST_FILES):
            os.replace(
                os.path.join(src, f".burst-{b}-{f}.staged"),
                os.path.join(src, f"burst-{b}-{f}.parquet"),
            )
        out = (first, land_ns, drained())
        first += RECORD_BURST
        return out

    try:
        gens = []
        for prefix, secs in (("warm", RECORD_WARMUP_S), ("live", seconds)):
            gen = _OpenLoop(src, builder, first, secs, prefix)
            gen.start()
            gen.join(timeout=secs + 60)
            if gen.is_alive() or gen.error is not None:
                raise RuntimeError(f"load generator failed: {gen.error!r}")
            groups += [
                (gen.first_seq + k * gen.per_tick, gen.per_tick, c)
                for k, c in enumerate(gen.created)
            ]
            gens.append(gen)
            first += gen.records
            t = res.phase(prefix, t)
        drained()
        bursts = [burst(b) for b in range(RECORD_BURSTS)][1:]
        t = res.phase("backlog", t)
    finally:
        query.stop()
        if listener is not None:
            spark.streams.removeListener(listener)
    if query.exception() is not None:
        raise RuntimeError(f"record query failed: {query.exception()}")
    t0 = time.perf_counter()
    checker.check_new(groups)
    # correctness: every generated record archived exactly once, byte-identical
    seq_batch = checker.finish(res, first)
    payload_bytes = int(builder.lengths(np.arange(first, dtype=np.int64)).sum())
    check_s += time.perf_counter() - t0
    t = res.phase("check", t)

    live = np.arange(gen.first_seq, gen.first_seq + gen.records, dtype=np.int64)
    live = live[seq_batch[live] >= 0]
    commit_of = checker.commit_of
    commit = np.array([commit_of[int(b)] for b in seq_batch[live]], dtype=np.int64)
    lat_s = (commit - gen.due_ns(live)) / 1e9
    live_batches = sorted(set(seq_batch[live].tolist()))
    back_batches: list[int] = []
    burst_rates = []
    for _, land_ns, batches in bursts:
        back_batches += batches
        if batches:
            drained_s = (max(commit_of[b] for b in batches) - land_ns) / 1e9
            burst_rates.append(RECORD_BURST / drained_s)

    res.end_to_end = {
        "latency_p50_s": metric(np.percentile(lat_s, 50), "s"),
        "latency_p90_s": metric(np.percentile(lat_s, 90), "s"),
        "throughput_per_s": metric(statistics.median(burst_rates), "1/s"),
    }
    res.info.update(
        rate_records_per_s=RECORD_RATE,
        live_records=int(len(live)),
        live_batches=len(live_batches),
        burst_records_per_s=[round(r) for r in burst_rates],
        backlog_batches=len(back_batches),
        check_s=round(check_s, 3),
        generator_late_s_max=round(max(max(g.late_s) for g in gens), 4),
    )
    if tracer.enabled:
        res.per_layer = _record_layers(
            tracer, listener, run_id, live_batches, back_batches, checker.files_of,
            checker.archive_bytes, payload_bytes, gens,
        )
    return res


def _record_layers(tracer, listener, run_id, live_batches, back_batches, files_of,
                   archive_bytes, payload_bytes, gens) -> dict:
    live_set = set(live_batches)
    prog = [p for p in listener.progress(run_id) if p["batchId"] in live_set]
    tracer.extra["record_progress"] = [
        {"batchId": p["batchId"], "numInputRows": p["numInputRows"], "durationMs": p["durationMs"]}
        for p in listener.progress(run_id)
    ]

    def phase(*keys):
        return [sum(p["durationMs"].get(k, 0) for k in keys) for p in prog]

    jobs = tracer.job_ids(run_id)
    live_tot = tracer.stage_totals(jobs, live_set.__contains__)
    back_tot = tracer.stage_totals(jobs, set(back_batches).__contains__)
    n = max(len(live_batches), 1)
    p = "streaming.record."
    return {
        p + "trigger_ms_p50": metric(statistics.median(phase("triggerExecution")), "ms"),
        p + "add_batch_ms_p50": metric(statistics.median(phase("addBatch")), "ms"),
        p + "commit_ms_p50": metric(statistics.median(phase("walCommit", "commitOffsets")), "ms"),
        p + "latest_offset_ms_p50": metric(statistics.median(phase("latestOffset")), "ms"),
        p + "query_planning_ms_p50": metric(statistics.median(phase("queryPlanning")), "ms"),
        p + "jobs_per_batch": metric(live_tot.get("jobs", 0) / n, "count"),
        p + "tasks_per_batch": metric(live_tot.get("tasks", 0) / n, "count"),
        p + "rows_per_batch_p50": metric(statistics.median(p_["numInputRows"] for p_ in prog), "count"),
        p + "files_per_batch": metric(sum(files_of[b] for b in live_batches) / n, "count"),
        p + "archive_bytes_per_payload_byte": metric(archive_bytes / payload_bytes, "ratio"),
        p + "backfill_executor_cpu_s": metric(back_tot.get("cpu_s", 0.0), "s"),
        "generator.late_s_max": metric(max(max(g.late_s) for g in gens), "s"),
    }


# ---------------------------------------------------------------------------
# replay_range
# ---------------------------------------------------------------------------

ARCHIVE_DAYS = 6
ARCHIVE_FIRST_IN_RANGE = 1
ARCHIVE_IN_RANGE_DAYS = 3
ARCHIVE_FILES_PER_DAY = 24
ARCHIVE_RECORDS_IN_RANGE = 30_000
ARCHIVE_RECORDS_OUT_OF_RANGE = 15_000
REPLAY_FAIL_ENTRIES = 2
ESTIMATE_CHECKED_CALLS = 3  # untimed, checked against an independent listing
ESTIMATE_TRACED_SHARE = 0.4  # of --seconds, timed estimate calls in a traced run
OPEN_SHARDS = 4


def replay_range(spark, work, seed, seconds, tracer: Tracer) -> Result:
    from kinesis_vcr_spark import play
    from kinesis_vcr_spark.config import DEFAULT_REPLAY_PARALLELISM
    from kinesis_vcr_spark.functions import estimate
    from kinesis_vcr_spark.sinks.kinesis import kinesis_partition_writer

    res = Result(tracer)
    t = time.perf_counter()
    archive = inputs.build_archive(
        os.path.join(work, "archive"), seed, ARCHIVE_DAYS, ARCHIVE_FIRST_IN_RANGE,
        ARCHIVE_IN_RANGE_DAYS, ARCHIVE_FILES_PER_DAY, ARCHIVE_RECORDS_IN_RANGE,
        ARCHIVE_RECORDS_OUT_OF_RANGE, REPLAY_FAIL_ENTRIES,
    )
    walk_files, walk_bytes = inputs.walk_listing(archive.path, archive.start, archive.end)
    # flush the fresh archive now, so its writeback does not overlap the
    # measured replays
    os.sync()
    t = res.phase("inputs", t)

    # estimate: checked calls; a traced run then times repeated calls. An
    # estimate call is a few hundred py4j round trips plus one small job,
    # and its time swung by 35% across runs with the host's scheduling
    # latency, so it is a per-layer number, not an end-to-end one.
    for _ in range(ESTIMATE_CHECKED_CALLS):
        est = estimate.estimate_replay_time(
            spark, archive.path, archive.start, archive.end, open_shards=OPEN_SHARDS
        )
        res.check(
            (est.file_count, est.total_bytes) == (walk_files, walk_bytes),
            f"estimate saw {est.file_count} files / {est.total_bytes} B, "
            f"listing has {walk_files} / {walk_bytes}",
        )
    tracer.wrap(estimate, "archive_listing", "sources.archive.archive_listing")
    est_s: list[float] = []
    deadline = time.perf_counter() + ESTIMATE_TRACED_SHARE * seconds
    while tracer.enabled and (not est_s or time.perf_counter() < deadline):
        t0 = time.perf_counter()
        with tracer.span("functions.estimate.estimate_replay_time"):
            estimate.estimate_replay_time(
                spark, archive.path, archive.start, archive.end, open_shards=OPEN_SHARDS
            )
        est_s.append(time.perf_counter() - t0)
    files_listed = est.file_count
    t = res.phase("estimate", t)

    # replay: the CLI path (default parallelism 10) into the Kinesis double.
    # The first replay arms the double's first-attempt failures, so the
    # sink's retry-with-backoff runs, and is left out of the measurements;
    # later replays are the clean samples.
    replay_s: list[float] = []
    first_s: list[float] = []  # call -> first record delivered at the double
    put_calls: list[list[dict]] = []  # per replay, per writer: the double's call stats
    deadline = None
    i = 0
    # stop before a replay that would end past the deadline, after at
    # least two clean replays
    while i < 3 or time.perf_counter() + replay_s[-1] <= deadline:
        spool = os.path.join(work, f"spool-{i}")
        os.makedirs(spool)
        double = KinesisDoubleFactory(spool, archive.fail_digests if i == 0 else ())
        writer = kinesis_partition_writer("perfbench-target", double)
        t0_wall = time.time()
        t0 = time.perf_counter()
        with tracer.span(f"play.replay#{i}"):
            result = play.replay(
                spark, archive.path, archive.start, archive.end, writer,
                parallelism=DEFAULT_REPLAY_PARALLELISM,
            )
        dt = time.perf_counter() - t0
        delivered, writers = read_spool(spool)
        res.check(
            delivered == archive.expected,
            f"replay {i}: the double received {sum(delivered.values())} records "
            f"({len(delivered)} distinct), expected {archive.in_range_records}",
        )
        res.check(
            result.records_failed == 0
            and result.records_attempted == archive.in_range_records,
            f"replay {i}: {result}",
        )
        replay_s.append(dt)
        first_s.append(
            min(c["end_wall"] for w in writers for c in w if c["n"] > c["failed"]) - t0_wall
        )
        put_calls.append(writers)
        if deadline is None:
            deadline = time.perf_counter() + seconds
        i += 1

    t = res.phase("replay", t)
    # the latency is how long a replay takes to start delivering (plan,
    # listing, scan, decode and the shuffle before the sink); the
    # throughput covers the whole replay
    clean_s = replay_s[1:]
    res.end_to_end = {
        "latency_p50_s": metric(np.percentile(first_s[1:], 50), "s"),
        "latency_p90_s": metric(np.percentile(first_s[1:], 90), "s"),
        "throughput_per_s": metric(archive.in_range_records / statistics.median(clean_s), "1/s"),
    }
    res.info.update(
        timed_estimate_calls=len(est_s),
        replays=len(replay_s),
        replay_s=[round(r, 4) for r in replay_s],
        first_delivery_s=[round(r, 4) for r in first_s],
        in_range_records=archive.in_range_records,
        in_range_payload_bytes=archive.in_range_payload_bytes,
        archive_bytes=archive.total_bytes,
        files_in_range=walk_files,
    )
    if tracer.enabled:
        res.per_layer = _replay_layers(
            spark, tracer, archive, files_listed, est_s, len(replay_s), put_calls
        )
    return res


def _replay_layers(spark, tracer, archive, files_listed, est_s, replays, put_calls) -> dict:
    from pyspark.sql import functions as F

    from kinesis_vcr_spark import play
    from kinesis_vcr_spark.sources.archive import read_archive

    # one pass each over the read path's layers, outside the measured loops
    t0 = time.perf_counter()
    with tracer.span("sources.archive.read_archive.plan"):
        df = read_archive(spark, archive.path, archive.start, archive.end)
        df._jdf.queryExecution().executedPlan()
    plan_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("sources.archive.read_archive.scan"):
        df.write.format("noop").mode("overwrite").save()
    scan_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("play.replay_batch_plan"):
        play.replay_batch_plan(
            read_archive(spark, archive.path, archive.start, archive.end)
        ).agg(F.sum("record_count")).collect()
    batch_plan_s = time.perf_counter() - t0

    # replays after the first: clean runs of the CLI path
    tot = defaultdict(float)
    for i in range(1, replays):
        for k, v in tracer.stage_totals(tracer.job_ids(f"play.replay#{i}")).items():
            tot[k] += v
    n = max(replays - 1, 1)
    first = [c for w in put_calls[0] for c in w]
    later = [c for ws in put_calls[1:] for w in ws for c in w]
    first_attempt = [c for c in later if not c["retry"]]
    byte_capped = 0
    for ws in put_calls[1:]:
        for w in ws:
            fa = [c for c in w if not c["retry"]]
            byte_capped += sum(1 for c in fa[:-1] if c["n"] < 500)
    p = "sinks.kinesis."
    return {
        "sources.archive.listing_s_p50": metric(
            statistics.median(tracer.durations("sources.archive.archive_listing")), "s"
        ),
        "functions.estimate.call_s_p50": metric(statistics.median(est_s), "s"),
        "functions.estimate.files_listed": metric(files_listed, "count"),
        "sources.archive.plan_s": metric(plan_s, "s"),
        "sources.archive.scan_s": metric(scan_s, "s"),
        "sources.archive.input_bytes_per_archive_byte": metric(
            tot["input_bytes"] / n / archive.total_bytes, "ratio"
        ),
        "play.replay.jobs": metric(tot["jobs"] / n, "count"),
        "play.replay.tasks": metric(tot["tasks"] / n, "count"),
        "play.replay.executor_cpu_s": metric(tot["cpu_s"] / n, "s"),
        "play.replay.shuffle_write_bytes_per_payload_byte": metric(
            tot["shuffle_write_bytes"] / n / archive.in_range_payload_bytes, "ratio"
        ),
        "play.replay_batch_plan_s": metric(batch_plan_s, "s"),
        p + "put_calls": metric(len(later) / n, "count"),
        p + "records_per_put_p50": metric(statistics.median(c["n"] for c in first_attempt), "count"),
        p + "byte_capped_batch_share": metric(byte_capped / len(first_attempt), "ratio"),
        # the retry path runs in the first replay only (armed failures)
        p + "put_wait_s": metric(sum(c["wait_s"] for c in first), "s"),
        p + "retried_entry_share": metric(
            sum(c["n"] for c in first if c["retry"]) / sum(c["n"] for c in first if not c["retry"]),
            "ratio",
        ),
    }


# ---------------------------------------------------------------------------
# neardup_stream
# ---------------------------------------------------------------------------

NEARDUP_DOCS_PER_FILE = 100
NEARDUP_CROSS_SHARE = 0.10  # edited copies of a document in an earlier file
NEARDUP_WITHIN_SHARE = 0.02  # edited copies of a document in the same file
NEARDUP_FILES_PER_SECOND = 0.25  # sizes the preloaded backlog from --seconds
NEARDUP_WARM_BATCHES = 2
NEARDUP_PARAMS = dict(shingle_size=3, num_hashes=64, bands=16, char_ngrams=False)
NEARDUP_THRESHOLD = 0.6


def neardup_stream(spark, work, seed, seconds, tracer: Tracer) -> Result:
    from kinesis_vcr_spark import statefs
    from kinesis_vcr_spark.operators.dedup import near_dup_pairs_minhash
    from kinesis_vcr_spark.streaming import neardup

    res = Result(tracer)
    t = time.perf_counter()
    # the warm batches' files plus measured probe files in proportion to --seconds
    files = NEARDUP_WARM_BATCHES + max(4, int(round(seconds * NEARDUP_FILES_PER_SECOND)))
    src = os.path.join(work, "docs")
    corpus = inputs.build_corpus(
        src, os.path.dirname(os.path.dirname(os.path.abspath(__file__))), seed, files,
        NEARDUP_DOCS_PER_FILE, NEARDUP_CROSS_SHARE, NEARDUP_WITHIN_SHARE,
    )
    state = os.path.join(work, "nd-state")
    pairs_path = os.path.join(work, "nd-pairs")
    listener = None
    if tracer.enabled:
        listener = ProgressCollector()
        spark.streams.addListener(listener)
        tracer.wrap(neardup, "near_dup_against_index", "operators.dedup_index.near_dup_against_index")
        tracer.wrap(neardup, "build_near_dup_index", "operators.dedup_index.build_near_dup_index")
        tracer.wrap(neardup, "near_dup_pairs_minhash", "operators.dedup.near_dup_pairs_minhash")
        tracer.wrap(statefs, "read_json_state", "statefs.read_json_state")
        tracer.wrap(statefs, "write_json_state", "statefs.write_json_state")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    t0 = t = res.phase("inputs", t)
    try:
        with tracer.span("streaming.neardup.streaming_near_dup", tag_jobs=False):
            query = neardup.streaming_near_dup(
                stream, "doc_id", "text", state, os.path.join(work, "nd-ckpt"), pairs_path,
                threshold=NEARDUP_THRESHOLD, band_member_cap=None, **NEARDUP_PARAMS,
            )
            query.awaitTermination(150)
    finally:
        if listener is not None:
            spark.streams.removeListener(listener)
    drain_s = time.perf_counter() - t0
    if query.isActive:
        query.stop()
        raise RuntimeError("near-dup stream did not drain in time")
    if query.exception() is not None:
        raise RuntimeError(f"near-dup query failed: {query.exception()}")
    run_id = str(query.runId)
    tracer.tag_run(run_id, t0)
    tracer.restore()
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    # batch 0 builds the index; it and the first probe pay the first-use
    # compile cost of their query shapes (each batch plans ~23 jobs; the
    # first probe runs about a quarter slower than later ones), so the
    # latency percentiles and the throughput are over the later probe
    # batches. The build batch is reported per layer.
    probe_s = batch_s[NEARDUP_WARM_BATCHES:]
    # not numInputRows: it counts the batch's rows once per job that
    # re-reads the batch frame
    probe_docs = NEARDUP_DOCS_PER_FILE * len(probe_s)

    # correctness: the union of emitted pairs equals the batch pipeline
    # over the whole corpus, each pair emitted once
    def pair_rows(df):
        return [
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in df.select("id_a", "id_b", "jaccard").collect()
        ]

    got = pair_rows(spark.read.parquet(pairs_path))
    docs = spark.read.parquet(src)
    expected = pair_rows(
        near_dup_pairs_minhash(
            docs, "doc_id", "text", threshold=NEARDUP_THRESHOLD,
            band_member_cap=None, **NEARDUP_PARAMS,
        )
    )
    res.check(len(progress) == files, f"{len(progress)} batches for {files} files")
    res.check(len(got) == len(set(got)), f"{len(got) - len(set(got))} pairs emitted twice")
    res.check(
        set(got) == set(expected),
        f"streamed {len(set(got))} pairs, batch pipeline {len(set(expected))}; "
        f"{len(set(expected) - set(got))} missing, {len(set(got) - set(expected))} extra",
    )
    res.check(len(expected) > 0, "corpus produced no near-dup pairs")
    t = res.phase("check", t + drain_s)

    res.end_to_end = {
        "latency_p50_s": metric(np.percentile(probe_s, 50), "s"),
        "latency_p90_s": metric(np.percentile(probe_s, 90), "s"),
        "throughput_per_s": metric(probe_docs / sum(probe_s), "1/s"),
    }
    res.info.update(
        files=files,
        docs=corpus.docs,
        drain_s=round(drain_s, 3),
        batches=len(progress),
        batch_s=[round(b, 3) for b in batch_s],
        pairs=len(expected),
        cross_batch_near_dups=corpus.cross_batch_near_dups,
        within_batch_near_dups=corpus.within_batch_near_dups,
    )
    if tracer.enabled:
        res.per_layer = _neardup_layers(tracer, listener, run_id, got, state)
    return res


def _neardup_layers(tracer, listener, run_id, got, state) -> dict:
    prog = listener.progress(run_id)
    prog = [p for p in prog if p["numInputRows"] > 0]
    n = max(len(prog), 1)
    tot = tracer.stage_totals(tracer.job_ids(run_id))
    # bookkeeping per batch: the watermark read, plus everything after the
    # index append up to the end of the watermark write (the batch and
    # output count jobs, then the progress JSON)
    spans = tracer.spans
    reads = [s for s in spans if s["name"] == "statefs.read_json_state"]
    writes = [s for s in spans if s["name"] == "statefs.write_json_state"]
    builds = [s for s in spans if s["name"] == "operators.dedup_index.build_near_dup_index"]
    probes = [s for s in spans if s["name"] == "operators.dedup_index.near_dup_against_index"]
    # near_dup_against_index only plans the probe; the pairs write right
    # after it runs the probe's jobs, and the index append starts once
    # that write is done. So a probe runs from the call to the append.
    # Batch 0 builds without a probe; the warm batches are left out as
    # in the end-to-end numbers.
    probe_s = [
        b["start"] - q["start"]
        for q, b in zip(probes, builds[1:])
    ][NEARDUP_WARM_BATCHES - 1:]
    progress_s = []
    for r, b, w in zip(reads, builds, writes):
        progress_s.append((r["end"] - r["start"]) + (w["end"] - b["end"]))
    state_files = state_bytes = 0
    for dirpath, _dirs, files in os.walk(state):
        for f in files:
            state_files += 1
            state_bytes += os.path.getsize(os.path.join(dirpath, f))
    p = "streaming.neardup."
    return {
        p + "jobs_per_batch": metric(tot.get("jobs", 0) / n, "count"),
        p + "stages_per_batch": metric(tot.get("stages", 0) / n, "count"),
        p + "add_batch_ms_p50": metric(
            statistics.median(q["durationMs"]["addBatch"] for q in prog), "ms"
        ),
        p + "build_batch_s": metric(prog[0]["durationMs"]["triggerExecution"] / 1e3, "s"),
        p + "executor_cpu_s_per_batch": metric(tot.get("cpu_s", 0.0) / n, "s"),
        p + "shuffle_bytes_per_batch": metric(tot.get("shuffle_write_bytes", 0.0) / n, "B"),
        p + "spill_bytes": metric(tot.get("spill_bytes", 0.0), "B"),
        "operators.dedup_index.probe_s_p50": metric(statistics.median(probe_s), "s"),
        "operators.dedup_index.build_s_p50": metric(
            statistics.median(tracer.durations("operators.dedup_index.build_near_dup_index")), "s"
        ),
        "operators.dedup_index.pairs_per_batch": metric(len(got) / n, "count"),
        "statefs.progress_s_p50": metric(statistics.median(progress_s), "s"),
        "statefs.state_files": metric(state_files, "count"),
        "statefs.state_bytes": metric(state_bytes, "B"),
    }
