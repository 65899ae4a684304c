"""Tracing for the traced run (``--trace 1``), measured from outside
the program.

- :meth:`Tracer.span` records a span (name, start, end, parent, run id)
  around a call into one of the package's public functions and, when
  it is a top-level span, tags the Spark jobs it starts with a job
  group of the same name. Streaming queries tag their own jobs with
  their ``runId``.
- :meth:`Tracer.wrap` temporarily replaces a module attribute with a
  span-recording wrapper, for calls the benchmark cannot reach from
  outside (the near-dup twin's probe, index append and state files).
- :meth:`Tracer.stage_totals` reads the engine's own job and stage
  records: ``StatusTracker`` maps a job group to jobs and jobs to
  stages, and ``AppStatusStore.stageList`` gives each stage's task
  count, run and CPU time, shuffle, spill and input bytes. Both work
  with ``spark.ui.enabled=false``.
- :class:`ProgressCollector` is a ``StreamingQueryListener`` keeping
  every progress event, for the per-phase trigger durations.

Spans stay in memory until :meth:`Tracer.write` dumps them, with each
name's total self time (duration minus the part covered by child
spans).
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

_BATCH_RE = re.compile(r"batch = (\d+)")


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restores: list = []
        #: extra JSON-able data written with the spans
        self.extra: dict = {}

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, run_id: str | None = None, tag_jobs: bool = True):
        """Record a span; with ``tag_jobs`` a top-level span also sets
        the job group ``name`` for the jobs started in it."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        top = parent is None and tag_jobs
        if run_id is None:
            # a call's spans share its job group; nested spans inherit
            run_id = parent["run_id"] if parent else (name if top else None)
        rec = {
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        sc = self.spark.sparkContext
        if top:
            sc.setJobGroup(name, name)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            if top:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, module, attr: str, name: str, run_id: str | None = None) -> None:
        """Install a span-recording wrapper on ``module.attr`` until
        :meth:`restore`; a no-op when tracing is off."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            # no job group: these run inside a stream's foreachBatch,
            # whose jobs already carry the stream's runId group
            with self.span(name, run_id=run_id, tag_jobs=False):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._restores.append((module, attr, original))

    def restore(self) -> None:
        while self._restores:
            module, attr, original = self._restores.pop()
            setattr(module, attr, original)

    def tag_run(self, run_id: str, since: float) -> None:
        """Stamp a stream's run id on the spans recorded since
        ``since`` (``perf_counter``) that carry none: the wrapped calls
        run inside the stream's batches, before its id is known here."""
        for s in self.spans:
            if s["run_id"] is None and s["start"] >= since:
                s["run_id"] = run_id

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self) -> dict[str, float]:
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        totals: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = 0.0
            cur_end = s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            totals[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(totals)

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            dict(s, start=s["start"] - t0, end=(s["end"] - t0) if s["end"] else None)
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(
                {"spans": spans, "self_time_s": self.self_times(), **self.extra, **extra},
                fh,
                indent=1,
            )

    # -- engine job and stage records -----------------------------------------

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids, batch_filter=None) -> dict:
        """Sum stage metrics over the completed stages of ``job_ids``.

        ``batch_filter(batch_id)`` keeps only stages whose job
        description names a streaming batch it accepts; ``jobs`` counts
        the jobs with at least one kept stage.
        """
        tracker = self.spark.sparkContext.statusTracker()
        stage_job: dict[int, int] = {}
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_job.update((sid, jid) for sid in info.stageIds)
        totals = defaultdict(float)
        kept_jobs: set[int] = set()
        batches: set[int] = set()
        for st in self._stage_data():
            sid = st.stageId()
            if sid not in stage_job:
                continue
            desc = st.description()
            m = _BATCH_RE.search(desc.get() if desc.isDefined() else "")
            batch = int(m.group(1)) if m else None
            if batch_filter is not None and (batch is None or not batch_filter(batch)):
                continue
            if batch is not None:
                batches.add(batch)
            kept_jobs.add(stage_job[sid])
            totals["stages"] += 1
            totals["tasks"] += st.numTasks()
            totals["cpu_s"] += st.executorCpuTime() / 1e9
            totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
            totals["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            totals["input_bytes"] += st.inputBytes()
        totals["jobs"] = len(kept_jobs)
        totals["batches"] = len(batches)
        return dict(totals)

    def _stage_data(self) -> list:
        """All retained stage attempts from the app status store (complete
        ones only; a stage skipped as already computed never ran)."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        statuses = jvm.java.util.ArrayList()
        statuses.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        quantiles = sc._gateway.new_array(jvm.double, 0)
        seq = store.stageList(statuses, False, False, quantiles, jvm.java.util.ArrayList())
        return [seq.apply(i) for i in range(seq.size())]


class ProgressCollector(StreamingQueryListener):
    """Keeps every ``QueryProgressEvent`` as parsed JSON, by run id."""

    def __init__(self) -> None:
        self.events: dict[str, list[dict]] = defaultdict(list)
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 listener API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802 listener API
        p = json.loads(event.progress.json)
        with self._lock:
            self.events[p["runId"]].append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802 listener API
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802 listener API
        pass

    def progress(self, run_id: str) -> list[dict]:
        with self._lock:
            return sorted(self.events.get(run_id, []), key=lambda p: p["batchId"])
