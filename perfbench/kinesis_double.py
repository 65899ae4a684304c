"""A Kinesis ``put_records`` double for the replay workload.

``kinesis_partition_writer`` calls its ``put_records_factory`` once per
partition on the executor, so the double is a picklable factory whose
product has boto3's ``put_records(StreamName=..., Records=[...])``
shape. Each product:

- enforces the PutRecords API limits on every call (at most 500
  records and 1,000,000 data bytes), raising :class:`ApiLimitExceeded`
  so a violation fails the replay task and the run;
- fails a seeded set of entries (given as payload digests) on their
  FIRST attempt only, answering with
  ``ProvisionedThroughputExceededException`` so the sink's
  ``put_with_retry`` path runs;
- spools the digest of every delivered entry and one stats line per
  call (with its wall-clock answer time) to files under ``spool_dir``,
  which the Spark driver process reads after the replay.

Deliveries are counted here, at the double, not from
``ReplayResult.records_delivered``: that property is attempted minus
failed, and ``iter_batches`` drops oversize records without counting
them as failed, so it over-reports deliveries whenever a record exceeds
1 MB.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

from perfbench.inputs import payload_digest

MAX_RECORDS = 500
MAX_DATA_BYTES = 1_000_000


class ApiLimitExceeded(ValueError):
    """A put_records call broke a documented PutRecords limit."""


class KinesisDoubleFactory:
    """Picklable ``put_records_factory`` for ``kinesis_partition_writer``."""

    def __init__(self, spool_dir: str, fail_digests=()) -> None:
        self.spool_dir = spool_dir
        self.fail_digests = frozenset(fail_digests)

    def __call__(self):
        return _KinesisDouble(self.spool_dir, self.fail_digests)


class _KinesisDouble:
    def __init__(self, spool_dir: str, fail_digests: frozenset) -> None:
        name = f"{os.getpid()}-{uuid.uuid4().hex}"
        self._data_path = os.path.join(spool_dir, name + ".bin")
        self._calls_path = os.path.join(spool_dir, name + ".jsonl")
        self._fail = fail_digests
        self._failed_once: set = set()
        self._last_end: float | None = None
        self._pending_retry = False

    def __call__(self, StreamName: str, Records: list) -> dict:  # noqa: N803 boto3 shape
        start = time.perf_counter()
        n = len(Records)
        data_bytes = sum(len(r["Data"]) for r in Records)
        if n > MAX_RECORDS:
            raise ApiLimitExceeded(f"{n} records > {MAX_RECORDS}")
        if data_bytes > MAX_DATA_BYTES:
            raise ApiLimitExceeded(f"{data_bytes} data bytes > {MAX_DATA_BYTES}")
        results = []
        delivered = []
        failed = 0
        for rec in Records:
            d = payload_digest(rec["Data"])
            if d in self._fail and d not in self._failed_once:
                self._failed_once.add(d)
                failed += 1
                results.append(
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": "injected first-attempt failure",
                    }
                )
            else:
                delivered.append(d)
                results.append({"SequenceNumber": "0", "ShardId": "shardId-000000000000"})
        with open(self._data_path, "ab") as fh:
            fh.write(b"".join(delivered))
        end = time.perf_counter()
        call = {
            "n": n,
            "bytes": data_bytes,
            "failed": failed,
            "retry": self._pending_retry,
            # time the writer waited (backoff) between a partial failure and this retry
            "wait_s": (start - self._last_end) if self._pending_retry else 0.0,
            # wall clock when the call answered; the driver shares the host's clock
            "end_wall": time.time(),
        }
        with open(self._calls_path, "a") as fh:
            fh.write(json.dumps(call) + "\n")
        self._pending_retry = failed > 0
        self._last_end = end
        return {"FailedRecordCount": failed, "Records": results}


def read_spool(spool_dir: str) -> tuple[dict, list[list[dict]]]:
    """(delivered digest -> multiplicity, per-writer lists of call stats)."""
    delivered: dict = {}
    for path in glob.glob(os.path.join(spool_dir, "*.bin")):
        with open(path, "rb") as fh:
            raw = fh.read()
        for i in range(0, len(raw), 8):
            k = raw[i: i + 8]
            delivered[k] = delivered.get(k, 0) + 1
    writers = []
    for path in sorted(glob.glob(os.path.join(spool_dir, "*.jsonl"))):
        with open(path) as fh:
            writers.append([json.loads(line) for line in fh])
    return delivered, writers
