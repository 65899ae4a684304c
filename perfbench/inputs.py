"""Seeded input generators for the three workloads.

Everything here is a pure function of the ``--seed`` argument (plus the
workload's fixed shape constants), so the same seed always yields the
same payload bytes, archive layout and document corpus. Only the
creation timestamps embedded in live record payloads depend on the
clock, and those are kept per tick so the check can rebuild every
expected payload exactly.

Payload layout (every workload that carries binary records)::

    bytes 0..7   sequence number, little-endian int64
    bytes 8..15  creation time, ns since the epoch, little-endian int64
    bytes 16..   filler taken from a seeded byte pool
"""

from __future__ import annotations

import base64
import binascii
import hashlib
import importlib.util
import os
import uuid
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np

HEADER_BYTES = 16
POOL_BYTES = 1 << 20

#: (share, low, high) payload-size classes, bytes inclusive of the header.
#: These mixes are assumptions, not measured traffic: no record-size
#: distribution of a real stream is at hand. They are mostly small event
#: records with a tail of larger ones. The archive's largest class is the
#: 40,000-byte record of the reference recorder's integration test (see
#: BASELINE.md); its share is chosen so that some put batches close on
#: the 1 MB byte cap rather than the 500-record cap, exercising both.
RECORD_SIZE_MIX = ((0.90, 64, 256), (0.10, 1024, 4096))
ARCHIVE_SIZE_MIX = ((0.87, 64, 512), (0.10, 1024, 8192), (0.03, 40_000, 40_000))


def payload_digest(data: bytes) -> bytes:
    """8-byte content digest used for multiset comparisons."""
    return hashlib.blake2b(data, digest_size=8).digest()


class PayloadBuilder:
    """Vectorized builder of seeded payloads.

    Lengths and filler offsets are functions of (seed, sequence number),
    so a payload can be rebuilt from its sequence number and creation
    time alone; the builder never loops over records in Python.
    """

    def __init__(self, seed: int, size_mix) -> None:
        rng = np.random.default_rng([seed, 0xB0B])
        self.pool = rng.integers(0, 256, POOL_BYTES, dtype=np.uint8)
        self._pool_bytes = self.pool.tobytes()
        self.seed = seed
        self.size_mix = size_mix
        self.max_len = max(hi for _, _, hi in size_mix)

    def lengths(self, seqs: np.ndarray) -> np.ndarray:
        """Payload length per sequence number (seeded, order-independent)."""
        u = _unit_hash(seqs, self.seed, 1)
        v = _unit_hash(seqs, self.seed, 2)
        out = np.empty(len(seqs), dtype=np.int64)
        edge = 0.0
        assigned = np.zeros(len(seqs), dtype=bool)
        for share, lo, hi in self.size_mix:
            edge += share
            sel = (~assigned) & (u < edge)
            out[sel] = lo + (v[sel] * (hi - lo + 1)).astype(np.int64)
            assigned |= sel
        last_lo, last_hi = self.size_mix[-1][1], self.size_mix[-1][2]
        rest = ~assigned
        out[rest] = last_lo + (v[rest] * (last_hi - last_lo + 1)).astype(np.int64)
        return out

    def build(self, seqs: np.ndarray, created_ns: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(offsets[n+1], data uint8) for the given records, Arrow-style."""
        seqs = np.asarray(seqs, dtype=np.int64)
        lens = self.lengths(seqs)
        offsets = np.zeros(len(seqs) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        starts = (
            _unit_hash(seqs, self.seed, 3) * (POOL_BYTES - self.max_len)
        ).astype(np.int64)
        pool = self._pool_bytes
        # one slice of the pool per record, joined in C
        data = np.frombuffer(
            bytearray(b"".join([pool[s:e] for s, e in zip(starts.tolist(), (starts + lens).tolist())])),
            dtype=np.uint8,
        )
        header = np.empty((len(seqs), 2), dtype="<i8")
        header[:, 0] = seqs
        header[:, 1] = np.broadcast_to(np.asarray(created_ns, dtype=np.int64), len(seqs))
        hpos = offsets[:-1, None] + np.arange(HEADER_BYTES)
        data[hpos] = header.view(np.uint8).reshape(len(seqs), HEADER_BYTES)
        return offsets, data

    def payloads(self, seqs: np.ndarray, created_ns) -> list[bytes]:
        offsets, data = self.build(seqs, created_ns)
        raw = data.tobytes()
        return [raw[offsets[i]: offsets[i + 1]] for i in range(len(offsets) - 1)]


def _unit_hash(seqs: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Deterministic per-(seed, salt, seq) uniform [0, 1) values
    (splitmix64 finalizer; uint64 arithmetic wraps by design)."""
    with np.errstate(over="ignore"):
        x = np.asarray(seqs, dtype=np.uint64) + np.uint64(
            (salt * 0x9E3779B97F4A7C15 + (seed & 0xFFFFFFFF) * 0xBF58476D1CE4E5B9) % (1 << 64)
        )
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def decode_base64_lines(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode newline-separated base64 lines, one payload per line.

    Returns ``(offsets[n+1], data uint8)`` in line order, Arrow-style, so
    it compares directly with :meth:`PayloadBuilder.build`. Raises
    ``binascii.Error`` on a malformed line.
    """
    lines = buf.split(b"\n")
    if lines and not lines[-1]:
        lines.pop()
    decoded = [binascii.a2b_base64(line, strict_mode=True) for line in lines]
    offsets = np.zeros(len(decoded) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, decoded), dtype=np.int64, count=len(decoded)), out=offsets[1:])
    return offsets, np.frombuffer(b"".join(decoded), dtype=np.uint8)


def take_lines(offsets: np.ndarray, data: np.ndarray, sel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The records ``sel`` (a boolean mask or index array) of an
    ``(offsets, data)`` pair, as a new pair."""
    starts = offsets[:-1][sel]
    lens = (offsets[1:] - offsets[:-1])[sel]
    out = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=out[1:])
    idx = np.arange(int(out[-1]), dtype=np.int64) + np.repeat(starts - out[:-1], lens)
    return out, data[idx]


def seqs_of(offsets: np.ndarray, data: np.ndarray) -> np.ndarray:
    """The sequence number embedded in each record (-1 where a record is
    shorter than the header)."""
    lens = offsets[1:] - offsets[:-1]
    whole = lens >= HEADER_BYTES
    out = np.full(len(lens), -1, dtype=np.int64)
    pos = offsets[:-1][whole, None] + np.arange(8)
    out[whole] = np.ascontiguousarray(data[pos]).view("<i8").reshape(-1)
    return out


# ---------------------------------------------------------------------------
# replay_range: a multi-day archive in the record path's text-sink layout
# ---------------------------------------------------------------------------

ARCHIVE_DAY0 = datetime(2024, 3, 1)


@dataclass
class Archive:
    path: str
    start: datetime
    end: datetime
    total_bytes: int
    in_range_records: int
    in_range_payload_bytes: int
    #: digest -> multiplicity over the in-range records
    expected: dict
    #: a seeded handful of in-range payload digests for the sink double to fail once
    fail_digests: list


def build_archive(
    root: str,
    seed: int,
    days: int,
    first_in_range: int,
    in_range_days: int,
    files_per_day: int,
    records_in_range: int,
    records_out_of_range: int,
    fail_count: int,
) -> Archive:
    """Write ``dt=YYYY-MM-DD/part-*.txt`` base64-line files over ``days``
    days, each file stamped with an mtime inside its own day.

    Range: ``[day first_in_range 00:00, day first_in_range+in_range_days
    00:00)``. The day after the range is still listed by the ``dt``
    prune and then dropped by the strict mtime filter, so both pruning
    layers do real work.
    """
    rng = np.random.default_rng([seed, 0xA2C])
    builder = PayloadBuilder(seed, ARCHIVE_SIZE_MIX)
    in_days = set(range(first_in_range, first_in_range + in_range_days))
    out_days = [d for d in range(days) if d not in in_days]
    per_day = {d: records_in_range // in_range_days for d in in_days}
    per_day[first_in_range] += records_in_range - sum(per_day.values())
    for i, d in enumerate(out_days):
        per_day[d] = records_out_of_range // len(out_days) + (
            1 if i < records_out_of_range % len(out_days) else 0
        )

    expected: dict = {}
    total_bytes = 0
    payload_bytes = 0
    in_digests: list[bytes] = []
    seq = 0
    for d in range(days):
        day = ARCHIVE_DAY0 + timedelta(days=d)
        ddir = os.path.join(root, f"dt={day:%Y-%m-%d}")
        os.makedirs(ddir, exist_ok=True)
        n_day = per_day[d]
        cuts = np.sort(rng.integers(0, n_day + 1, files_per_day - 1))
        bounds = np.concatenate(([0], cuts, [n_day]))
        # mtimes well inside the day: the estimate's strict second-granularity
        # filter must never see a file on a range boundary
        mtimes = np.sort(rng.integers(3600, 86400 - 3600, files_per_day))
        for f in range(files_per_day):
            n = int(bounds[f + 1] - bounds[f])
            seqs = np.arange(seq, seq + n, dtype=np.int64)
            seq += n
            created = int(day.replace(tzinfo=timezone.utc).timestamp()) + int(mtimes[f])
            pls = builder.payloads(seqs, created * 1_000_000_000)
            name = f"part-{f:05d}-{uuid.UUID(int=int(rng.integers(0, 2**63)) << 64 | f)}.c000.txt"
            fpath = os.path.join(ddir, name)
            body = b"".join(base64.b64encode(p) + b"\n" for p in pls)
            with open(fpath, "wb") as fh:
                fh.write(body)
            os.utime(fpath, ns=(created * 1_000_000_000, created * 1_000_000_000))
            total_bytes += len(body)
            if d in in_days:
                for p in pls:
                    k = payload_digest(p)
                    expected[k] = expected.get(k, 0) + 1
                    in_digests.append(k)
                    payload_bytes += len(p)
    pick = rng.choice(len(in_digests), size=min(fail_count, len(in_digests)), replace=False)
    start = ARCHIVE_DAY0 + timedelta(days=first_in_range)
    return Archive(
        path=root,
        start=start,
        end=start + timedelta(days=in_range_days),
        total_bytes=total_bytes,
        in_range_records=records_in_range,
        in_range_payload_bytes=payload_bytes,
        expected=expected,
        fail_digests=[in_digests[int(i)] for i in pick],
    )


def walk_listing(archive_root: str, start: datetime, end: datetime) -> tuple[int, int]:
    """Independent (file count, byte total) of the files ``estimate``
    should see: every non-hidden file under a ``dt=`` day between the
    range's dates whose whole-second mtime is strictly inside it."""
    lo = int(start.replace(tzinfo=timezone.utc).timestamp())
    hi = int(end.replace(tzinfo=timezone.utc).timestamp())
    first, last = start.date().isoformat(), end.date().isoformat()
    count = size = 0
    for name in os.listdir(archive_root):
        if not name.startswith("dt=") or not first <= name[3:] <= last:
            continue
        for dirpath, _dirs, files in os.walk(os.path.join(archive_root, name)):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(dirpath, f))
                if lo < st.st_mtime_ns // 1_000_000_000 < hi:
                    count += 1
                    size += st.st_size
    return count, size


# ---------------------------------------------------------------------------
# neardup_stream: document files with near-dups across batch boundaries
# ---------------------------------------------------------------------------


def _gen_testdata_vocab(repo_root: str) -> list[str]:
    """The documents vocabulary of ``tools/gen_testdata.py``, so the
    corpus has the same text shape as the repo's generated tables."""
    path = os.path.join(repo_root, "tools", "gen_testdata.py")
    spec = importlib.util.spec_from_file_location("_gen_testdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return list(mod.VOCAB)


@dataclass
class Corpus:
    docs: int
    cross_batch_near_dups: int
    within_batch_near_dups: int


def build_corpus(
    src_dir: str,
    repo_root: str,
    seed: int,
    files: int,
    docs_per_file: int,
    cross_share: float,
    within_share: float,
) -> Corpus:
    """Write ``files`` parquet files of ``docs_per_file`` documents each
    (``doc_id long, text string``).

    Documents follow ``tools/gen_testdata.py``'s shape: 8-95 words
    drawn from its 31-word vocabulary. From the second file on,
    ``cross_share`` of each file's documents are edited copies (one
    word changed) of documents in an EARLIER file, so the index probe
    finds real matches; ``within_share`` copy a document of the same
    file.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 0xD0C])
    vocab = np.array(_gen_testdata_vocab(repo_root))
    os.makedirs(src_dir, exist_ok=True)
    texts: list[str] = []
    cross = within = 0
    for f in range(files):
        lo = len(texts)
        lens = rng.integers(8, 96, docs_per_file)
        batch = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
        kinds = rng.random(docs_per_file)
        for i in range(docs_per_file):
            if f > 0 and kinds[i] < cross_share:
                orig = texts[int(rng.integers(0, lo))]
                cross += 1
            elif i > 0 and kinds[i] < cross_share + within_share:
                orig = batch[int(rng.integers(0, i))]
                within += 1
            else:
                continue
            words = orig.split()
            words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            batch[i] = " ".join(words)
        texts.extend(batch)
        table = pa.table(
            {
                "doc_id": np.arange(lo, lo + docs_per_file, dtype=np.int64),
                "text": batch,
            }
        )
        # zero-padded names: the file source orders a backlog by mtime then
        # name, and one file per trigger keeps the batch order = file order
        path = os.path.join(src_dir, f"f{f:04d}.parquet")
        tmp = os.path.join(src_dir, f".f{f:04d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
        stamp = 1_700_000_000 + f
        os.utime(path, (stamp, stamp))
    return Corpus(len(texts), cross, within)
