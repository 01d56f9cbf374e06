"""snackstore: a custom Spark data source (Python Data Source API — the
DSv2 equivalent) backing the filesystem model with a Cassandra-style
key-value layout — the north star's "custom Cassandra-backed FileSystem"
connector (SURVEY.md §7 M6), re-expressed over Spark 4's connector API.

Layout mirrors the reference's storage schema (ThriftStore.scala:228-241):

    store_dir/
      _store.json             # {"buckets": N, "hosts": [...]} (keyspace def)
      bucket=<k>/
        sblock-<task>.bin     # sblock CF: segment of one write task's payloads
        inodes-<task>.json    # inode CF: path -> {"chunks": [[sub_offset,
                              #   char_len, byte_pos, byte_len], ...]}

- **Segments**: each write task appends the UTF-8 payload bytes of every
  sub-block it writes to bucket k into ONE segment, `sblock-<task>.bin`,
  the way Cassandra packs the sblock CF's columns into SSTables
  (ThriftStore.scala:352-365) instead of one OS file per sub-block. The
  task's fragment `inodes-<task>.json` locates each chunk inside that
  segment by byte range; the char length lets metadata reads skip the
  segment entirely.
- **Commit order**: a task closes its segments, then writes its
  fragments. A reader lists only fragments, so a segment whose task died
  before its fragment landed is invisible; `vacuum_store` reclaims it.
  No fsync: the flush policy is the OS's, as for any Spark task output.
- **Old stores** stay readable: two-element `[sub_offset, char_len]`
  chunks and pre-r2 `offsets` entries resolve to one blob per sub-block,
  `sblock-<pathhash>-<sub_offset>.bin`. Writers only write segments.
- **Key dispersion**: bucket = md5(path) % buckets — the reference's
  path-hash row key (ThriftStore.scala:243-247 getPathKey).
- **Partition planning**: one InputPartition per bucket for payload
  reads, the connector analog of split planning over the token ring
  (§3.3). Each partition carries `preferred_hosts` — the RF=3 replica
  set from the token ring (owner interval + 2 clockwise successors),
  mirroring the reference's block→replica locality feed
  (ThriftStore.scala:543-605, consumed by SnackFS.scala:135-149).
  Spark's Python Data Source API does not yet consume preferred
  locations from Python partitions, so the hosts are surfaced via
  `SnackStoreReader.preferred_locations()` for the scheduler-integration
  layer (and asserted in tests); the planning math is the real thing.
  A metadata-only read is one partition over all buckets: it reads only
  the small fragments, so a task per bucket would cost more than the IO.
- **Filter pushdown** (SupportsPushDownFilters analog, SURVEY §4):
  `path = X` prunes to ONE bucket before any IO and reads only that
  path's byte ranges (one seek + read per run of adjacent ranges, never
  the whole segment); `path LIKE prefix%` filters fragment entries
  inside the reader before any payload IO. Unsupported filters are
  returned to Spark for post-evaluation. A full scan reads each segment
  in one call.
- **Limit pushdown** (SupportsPushDownLimit analog, SURVEY §4): a
  `limit=N` read option stops each bucket's listing after N rows (Spark
  applies the final global limit). Separately, a `listing_cap` option
  (default 100000) mirrors the reference's hard listing cap, which bounds
  *path listings* only — the indexed-slice query of ThriftStore.scala:509
  — never data reads. It therefore applies only to metadata-only reads
  (payload column not requested), per bucket, and when it binds the
  reader raises rather than silently truncating (the reference surfaces
  the same bound as a query-size contract, not a lossy default).
- **Column pruning** (SupportsPushDownRequiredColumns analog, SURVEY §4:
  the reference fetches ONLY the path column in listings,
  ThriftStore.scala:506): the Python Data Source API has no
  required-columns hook yet, so a `columns` read option names the
  needed fields; when `payload` is absent the reader opens no segment
  (lengths come from the inode record) — metadata listings over the
  store do zero content IO.
- **Writes** go through the Arrow writer path: each task hashes each of
  its paths to a bucket once and appends the payload bytes to that
  bucket's segment (no commit coordination needed — file names are
  task-unique, the reader unions fragments), mirroring the reference's
  per-sub-block inserts (ThriftStore.scala:352-365) but parallel per
  partition. Reads yield one Arrow RecordBatch per bucket.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import uuid
import warnings
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import BinaryIO, NamedTuple

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from snackfs_spark import workdir

DEFAULT_BUCKETS = 8
LISTING_CAP = 100_000   # reference's hard listing cap (ThriftStore.scala:509)
TOKEN_SPACE = 4294967296  # 2^32 ring, same space as sources/fsmodel.py
REPLICATION = 3           # RF=3 SimpleStrategy-style replica walk

SCHEMA = (
    "path string, sub_offset bigint, length bigint, payload string"
)
_ARROW_SCHEMA = pa.schema([
    ("path", pa.string()),
    ("sub_offset", pa.int64()),
    ("length", pa.int64()),
    ("payload", pa.string()),
])


def _bucket_of(path: str, buckets: int) -> int:
    return int(hashlib.md5(path.encode()).hexdigest()[:8], 16) % buckets


def _path_hash(path: str) -> str:
    return hashlib.md5(path.encode()).hexdigest()[:16]


def _segment(task: str) -> str:
    return f"sblock-{task}.bin"


def _blob(path: str, sub_offset: int) -> str:
    """Old-layout file of one sub-block (two-element and `offsets` entries)."""
    return f"sblock-{_path_hash(path)}-{sub_offset}.bin"


class _Chunk(NamedTuple):
    """Where one sub-block lives inside its bucket directory."""

    length: int | None  # chars; None for pre-r2 `offsets` entries
    blob: str           # segment, or the sub-block's own old-layout blob
    pos: int = 0        # byte range in `blob`; nbytes -1 = the whole file
    nbytes: int = -1


def _fragment(bdir: str, fn: str, keep: Callable[[str], bool] | None = None):
    """Yield (path, sub_offset, _Chunk, exact) for each entry of the inode
    fragment `fn`, skipping paths `keep` rejects. `exact` is False for
    pre-r2 `offsets` entries, which a `chunks` entry of any fragment
    overrides."""
    seg = _segment(fn[len("inodes-"):-len(".json")])
    with open(os.path.join(bdir, fn)) as f:
        frag = json.load(f)
    for path, meta in frag.items():
        if keep is not None and not keep(path):
            continue
        for c in meta.get("chunks", []):
            if len(c) == 4:  # [sub_offset, char_len, byte_pos, byte_len]
                yield path, c[0], _Chunk(c[1], seg, c[2], c[3]), True
            else:  # [sub_offset, char_len] in its own blob
                yield path, c[0], _Chunk(c[1], _blob(path, c[0])), True
        for off in meta.get("offsets", []):
            yield path, off, _Chunk(None, _blob(path, off)), False


def _inodes(
    bdir: str, keep: Callable[[str], bool] | None = None
) -> dict[str, dict[int, _Chunk]]:
    """path -> sub_offset -> _Chunk over every committed fragment of one
    bucket. Fragments merge ADDITIVELY: a path's chunks may span several
    write tasks (repartitioned input, append jobs), so dict.update would
    silently drop all but the last fragment's chunks."""
    chunks: dict[str, dict[int, _Chunk]] = {}
    if not os.path.isdir(bdir):
        return chunks
    for fn in sorted(os.listdir(bdir)):
        if fn.startswith("inodes-"):
            for path, off, chunk, exact in _fragment(bdir, fn, keep):
                ent = chunks.setdefault(path, {})
                if exact:
                    ent[off] = chunk
                else:
                    ent.setdefault(off, chunk)
    return chunks


def _read_payloads(bdir: str, chunks: list[_Chunk]) -> list[str]:
    """Decoded payloads of `chunks`, in order. Each file is opened once and
    each run of adjacent byte ranges is one seek + read, so a scan reads a
    segment in one call and a point read touches only its own ranges."""
    out = [""] * len(chunks)
    by_blob: dict[str, list[int]] = {}
    for i, c in enumerate(chunks):
        by_blob.setdefault(c.blob, []).append(i)
    for blob, idx in by_blob.items():
        with open(os.path.join(bdir, blob), "rb") as f:
            if chunks[idx[0]].nbytes < 0:  # old layout: the file is the chunk
                text = f.read().decode("utf-8")
                for i in idx:
                    out[i] = text
                continue
            runs: list[list[int]] = []
            end = -1
            for i in sorted(idx, key=lambda j: chunks[j].pos):
                if chunks[i].pos != end:
                    runs.append([])
                runs[-1].append(i)
                end = chunks[i].pos + chunks[i].nbytes
            for run in runs:
                lo, last = chunks[run[0]].pos, chunks[run[-1]]
                f.seek(lo)
                data = memoryview(f.read(last.pos + last.nbytes - lo))
                if len(data) < last.pos + last.nbytes - lo:
                    raise OSError(
                        f"snackstore segment {os.path.join(bdir, blob)} ends "
                        f"before byte {last.pos + last.nbytes}: truncated"
                    )
                for i in run:
                    c = chunks[i]
                    out[i] = str(data[c.pos - lo:c.pos - lo + c.nbytes], "utf-8")
    return out


def bucket_replicas(bucket: int, buckets: int, hosts: list[str]) -> tuple[str, ...]:
    """Replica hosts for one bucket: place the bucket's midpoint token on
    the ring (equal ranges per host, wraparound at the top, exactly the
    fsmodel ring layout), owner = containing range, replicas = owner + the
    next RF-1 hosts clockwise — Cassandra SimpleStrategy, the locality
    walk of ThriftStore.scala:543-605."""
    if not hosts:
        return ()
    token = (bucket * TOKEN_SPACE + TOKEN_SPACE // 2) // max(buckets, 1)
    step = TOKEN_SPACE // len(hosts)
    # Range i covers (i*step, (i+1)*step] with the last range wrapping to 0:
    # owner index = ceil(token/step) - 1 (mod n).
    owner = ((token + step - 1) // step - 1) % len(hosts)
    return tuple(hosts[(owner + r) % len(hosts)] for r in range(min(REPLICATION, len(hosts))))


@dataclass
class _BucketPartition(InputPartition):
    buckets: tuple[int, ...]
    preferred_hosts: tuple[str, ...] = ()


class SnackStoreReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.root = options.get("store_dir")
        if not self.root:
            raise ValueError("snackstore requires option 'store_dir'")
        with open(os.path.join(self.root, "_store.json")) as f:
            meta = json.load(f)
        self.buckets = meta["buckets"]
        self.hosts: list[str] = meta.get("hosts", [])
        self.eq_path: str | None = None
        self.prefix: str | None = None
        # SupportsPushDownLimit analog: per-bucket row cap (Spark applies
        # the final global limit, so truncation here is the *requested*
        # semantics, never lossy).
        limit = options.get("limit")
        self.limit: int | None = int(limit) if limit is not None else None
        # SupportsPushDownRequiredColumns analog: a metadata-only read
        # ('payload' not requested) never opens a segment.
        cols = options.get("columns")
        self.want_payload = cols is None or "payload" in {
            c.strip() for c in cols.split(",")
        }
        # The reference's 100k listing bound (ThriftStore.scala:509)
        # applies to path listings only, never data reads: enforce it
        # only on metadata-only scans, and fail loudly when it binds
        # (a silently truncated listing looks complete downstream).
        self.listing_cap = int(options.get("listing_cap", LISTING_CAP))

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("path",):
                self.eq_path = f.value
            elif isinstance(f, StringStartsWith) and f.attribute == ("path",):
                self.prefix = f.value
            else:
                yield f  # unsupported -> Spark evaluates it post-scan

    def _buckets(self) -> list[int]:
        if self.eq_path is not None:
            # point lookup touches exactly one bucket (getPathKey dispersion)
            return [_bucket_of(self.eq_path, self.buckets)]
        return list(range(self.buckets))

    def partitions(self):
        if not self.want_payload:
            # a listing reads only the small inode fragments: one task over
            # every bucket costs less than a task per bucket. `limit` and
            # `listing_cap` still apply per bucket inside it.
            return [_BucketPartition(tuple(self._buckets()))]
        return [
            _BucketPartition((b,), bucket_replicas(b, self.buckets, self.hosts))
            for b in self._buckets()
        ]

    def preferred_locations(self) -> dict[int, tuple[str, ...]]:
        """bucket -> replica hosts, the preferredLocations feed the JVM
        scheduler would consume (SnackFS.scala:135-149 getFileBlockLocations)."""
        return {
            b: bucket_replicas(b, self.buckets, self.hosts) for b in self._buckets()
        }

    def _wanted(self, path: str) -> bool:
        return (self.eq_path is None or path == self.eq_path) and (
            self.prefix is None or path.startswith(self.prefix)
        )

    def read(self, partition: _BucketPartition) -> Iterator[pa.RecordBatch]:
        for bucket in partition.buckets:
            batch = self._read_bucket(bucket)
            if batch is not None:
                yield batch

    def _read_bucket(self, bucket: int) -> pa.RecordBatch | None:
        bdir = os.path.join(self.root, f"bucket={bucket}")
        chunks = _inodes(bdir, self._wanted)
        listed = (
            (path, off, ent[off])
            for path, ent in sorted(chunks.items())
            for off in sorted(ent)
        )
        if self.limit is not None:
            listed = itertools.islice(listed, self.limit)  # requested truncation
        rows: list[tuple[str, int, _Chunk]] = []
        for row in listed:
            if not self.want_payload and len(rows) >= self.listing_cap:
                raise RuntimeError(
                    f"snackstore listing exceeds listing_cap="
                    f"{self.listing_cap} rows in bucket "
                    f"{bucket}; raise the 'listing_cap' "
                    "read option or push a narrower path filter "
                    "(reference bound: ThriftStore.scala:509)"
                )
            rows.append(row)
        if not rows:
            return None
        located = [c for _p, _o, c in rows]
        if self.want_payload:
            payloads: list[str | None] = _read_payloads(bdir, located)
            lengths = [len(p) for p in payloads]
        else:
            payloads = [None] * len(rows)
            lengths = [c.length for c in located]
            # pre-r2 entries carry no length: decode their blobs, since
            # `length` counts chars and a stat would count bytes
            legacy = [i for i, n in enumerate(lengths) if n is None]
            texts = _read_payloads(bdir, [located[i] for i in legacy])
            for i, text in zip(legacy, texts):
                lengths[i] = len(text)
        return pa.RecordBatch.from_arrays(
            [
                pa.array([p for p, _o, _c in rows], pa.string()),
                pa.array([o for _p, o, _c in rows], pa.int64()),
                pa.array(lengths, pa.int64()),
                pa.array(payloads, pa.string()),
            ],
            schema=_ARROW_SCHEMA,
        )


class SnackStoreWriter(DataSourceArrowWriter):
    def __init__(self, options, overwrite: bool = False):
        self.root = options.get("store_dir")
        if not self.root:
            raise ValueError("snackstore requires option 'store_dir'")
        meta_path = os.path.join(self.root, "_store.json")
        if overwrite and os.path.isdir(self.root):
            # mode("overwrite") clears every bucket dir; without this the
            # old fragments would silently survive under the new store.
            import shutil  # noqa: PLC0415

            for fn in os.listdir(self.root):
                if fn.startswith("bucket="):
                    shutil.rmtree(os.path.join(self.root, fn))
        if not overwrite and os.path.exists(meta_path):
            # Appending to an existing store: the bucket count is part of
            # the physical layout (blobs already hash to it) — reuse the
            # recorded metadata, and refuse a conflicting explicit
            # `buckets` option (writing with a different count would
            # route new fragments to buckets old readers never visit:
            # silent data loss). Same for hosts — an append must not
            # wipe the ring.
            with open(meta_path) as f:
                existing = json.load(f)
            self.buckets = existing["buckets"]
            self.hosts = existing.get("hosts", [])
            opt_buckets = options.get("buckets")
            if opt_buckets is not None and int(opt_buckets) != self.buckets:
                raise ValueError(
                    f"append with buckets={opt_buckets} conflicts with "
                    f"existing store layout buckets={self.buckets}; "
                    "use mode('overwrite') to re-bucket"
                )
        else:
            self.buckets = int(options.get("buckets", DEFAULT_BUCKETS))
            hosts_opt = options.get("hosts")
            self.hosts = hosts_opt.split(",") if hosts_opt else []
            os.makedirs(self.root, exist_ok=True)
            with open(meta_path, "w") as f:
                json.dump({"buckets": self.buckets, "hosts": self.hosts}, f)

    def write(self, iterator: Iterator[pa.RecordBatch]) -> WriterCommitMessage:
        task = uuid.uuid4().hex[:12]
        # path -> (bucket, its chunk list in the fragment): each path is
        # hashed once per task, not once per sub-block
        placed: dict[str, tuple[int, list[list[int]]]] = {}
        inodes: dict[int, dict[str, dict]] = {}
        segments: dict[int, BinaryIO] = {}
        sizes: dict[int, int] = {}
        try:
            for batch in iterator:
                for path, off, payload in zip(
                    batch.column(0).to_pylist(),
                    batch.column(1).to_pylist(),
                    batch.column(3).to_pylist(),
                ):
                    hit = placed.get(path)
                    if hit is None:
                        b = _bucket_of(path, self.buckets)
                        if b not in segments:
                            bdir = os.path.join(self.root, f"bucket={b}")
                            os.makedirs(bdir, exist_ok=True)
                            segments[b] = open(os.path.join(bdir, _segment(task)), "wb")
                            inodes[b], sizes[b] = {}, 0
                        entries: list[list[int]] = []
                        inodes[b][path] = {"chunks": entries}
                        hit = placed[path] = (b, entries)
                    b, entries = hit
                    data = payload.encode("utf-8")
                    entries.append([off, len(payload), sizes[b], len(data)])
                    sizes[b] += len(data)
                    segments[b].write(data)
        finally:
            for seg in segments.values():
                seg.close()
        # commit order: segments are closed before any fragment names them
        for b, m in inodes.items():
            with open(
                os.path.join(self.root, f"bucket={b}", f"inodes-{task}.json"), "w"
            ) as f:
                json.dump(m, f)
        return WriterCommitMessage()

    def commit(self, messages):
        # all task outputs are uniquely named; nothing to reconcile —
        # the single-commit contract the reference lacks (it re-upserts
        # the INode per block) comes free here
        return None

    def abort(self, messages):
        return None


class SnackStoreTailReader(SimpleDataSourceStreamReader):
    """Streaming tail-follow of ONE store path — the reference's
    tail/follow stream surface (fs/stream sequential readers;
    `snackfs -tail -f`, SnackFSShell.scala) as a Structured Streaming
    source. The offset is the CONTIGUOUSLY-consumed char position
    (`{"end": N}`): a micro-batch emits committed sub-blocks starting
    exactly at N, advancing through each one, and STOPS at the first
    gap — sequential-read semantics, you cannot tail past a hole.

    Contiguity is what makes the offset safe under concurrent append
    tasks: a multi-task append commits its inode fragments in arbitrary
    order, so a later-offset fragment can become visible before an
    earlier one. A max-visible-offset watermark would jump past the
    missing range and lose it forever; the contiguous walk simply leaves
    the out-of-order tail pending until the gap commits, then emits both
    in order. Replay stays exact: committed bytes are never rewritten (a
    segment is closed before its fragment names it), so the chunk run
    covering [start.end, end.end) never changes — `readBetweenOffsets`
    re-derives it from the store, which is what makes checkpoint
    recovery exactly-once without a WAL. A segment whose task died
    before its inode fragment landed is invisible here for the same
    reason it is invisible to batch readers (commit protocol).

    At scale the same design follows a DIRECTORY (offset = per-path
    consumed-position map, one partition per bucket); the single-path
    form is the reference's actual tail semantics and keeps the offset
    O(1)."""

    def __init__(self, options):
        self.root = options.get("store_dir")
        self.path = options.get("path")
        if not self.root or not self.path:
            raise ValueError("snackstore stream requires 'store_dir' and 'path'")
        with open(os.path.join(self.root, "_store.json")) as f:
            self.buckets = json.load(f)["buckets"]
        self.bdir = os.path.join(
            self.root, f"bucket={_bucket_of(self.path, self.buckets)}"
        )
        # sub_offset -> decoded char length for pre-r2 length-less
        # fragments. Committed bytes are immutable, so entries never
        # invalidate; without this every micro-batch poll re-decodes the
        # whole legacy payload just to measure it (r4 ADVICE).
        self._legacy_len_cache: dict[int, int] = {}
        # sub_offset -> _Chunk from the latest fragment listing, so the
        # payload reads of a micro-batch use the snapshot its walk saw
        self._located: dict[int, _Chunk] = {}

    def initialOffset(self) -> dict:
        return {"end": 0}  # follow from the start of the file

    def _committed_chunks(self) -> list[tuple[int, int]]:
        """Sorted (sub_offset, length) pairs of the path visible under
        the commit protocol (listed from inode fragments, never by
        globbing segments or blobs)."""
        self._located = _inodes(self.bdir, lambda p: p == self.path).get(
            self.path, {}
        )
        out = []
        for off in sorted(self._located):
            length = self._located[off].length
            if length is None:
                # pre-r2 fragments lack lengths; the contiguity walk
                # needs CHAR length (offsets are char positions), so
                # decode — getsize would return bytes and a multi-byte
                # payload would open a phantom gap that stalls the
                # stream forever. Decode once per chunk, not per poll:
                # committed bytes are immutable.
                length = self._legacy_len_cache.get(off)
                if length is None:
                    length = len(_read_payloads(self.bdir, [self._located[off]])[0])
                    self._legacy_len_cache[off] = length
            out.append((off, length))
        return out

    def _pos(self, offset: dict) -> int:
        """Consumed position from an offset dict, accepting the legacy
        {"hwm": N} form (pre-contiguity checkpoints): old hwm = max
        EMITTED sub_offset, so the consumed position is that chunk's
        end (the old reader had emitted everything visible <= hwm)."""
        if "end" in offset:
            return offset["end"]
        hwm = offset["hwm"]
        if hwm < 0:
            return 0
        chunks = self._committed_chunks()
        for off, length in chunks:
            if off == hwm:
                return off + length
        # The hwm chunk vanished (vacuumed legacy checkpoint). hwm is a
        # chunk START, not a consumed end — returning it raw would make
        # the next committed chunk (at hwm + len) look like a permanent
        # gap and stall the stream. The legacy reader had emitted
        # everything visible <= hwm, so resume from the END of the last
        # surviving chunk at-or-below hwm; if none survive, from the
        # next chunk's start (r4 ADVICE).
        below = [(off, length) for off, length in chunks if off <= hwm]
        pos = below[-1][0] + below[-1][1] if below else 0
        if not any(off == pos for off, _length in chunks):
            # the run following pos was vacuumed too; data in the hole is
            # unrecoverable, so skip to the next surviving chunk rather
            # than stalling on a gap that can never fill
            later = [off for off, _length in chunks if off > pos]
            if later:
                pos = later[0]
        warnings.warn(
            f"snackstore tail {self.path}: legacy hwm {hwm} chunk was "
            f"vacuumed; degraded recovery resumes at position {pos}",
            stacklevel=2,
        )
        return pos

    def _rows(self, chunks: list[tuple[int, int]], lo: int, hi: int):
        """Rows for the given committed chunks with lo <= sub_offset < hi."""
        offs = [off for off, _length in chunks if lo <= off < hi]
        payloads = _read_payloads(self.bdir, [self._located[off] for off in offs])
        return [
            (self.path, off, len(payload), payload)
            for off, payload in zip(offs, payloads)
        ]

    def read(self, start: dict):
        # one fragment listing per micro-batch: advance through the
        # contiguous committed run starting at the consumed position,
        # stopping at the first gap
        chunks = self._committed_chunks()
        start_pos = self._pos(start)
        end_pos = start_pos
        for off, length in chunks:
            if off < end_pos:
                continue  # already consumed
            if off > end_pos:
                break  # gap — out-of-order commit still pending
            end_pos = off + length
        # a list_iterator, not a generator: the engine caches the batch
        # for replay-until-commit via copy.copy, which generators refuse
        return iter(self._rows(chunks, start_pos, end_pos)), {"end": end_pos}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            self._rows(self._committed_chunks(), self._pos(start), self._pos(end))
        )


class SnackStoreDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "snackstore"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema: StructType) -> SnackStoreReader:
        return SnackStoreReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> SnackStoreWriter:
        return SnackStoreWriter(self.options, overwrite=overwrite)

    def simpleStreamReader(self, schema: StructType) -> SnackStoreTailReader:
        return SnackStoreTailReader(self.options)


VACUUM_GRACE_SECONDS = 600.0


def vacuum_store(root: str, grace_seconds: float = VACUUM_GRACE_SECONDS) -> dict[str, int]:
    """Garbage-collect orphan segments and blobs: a write task that died
    after writing its segments but before its inode fragments leaves
    unreferenced files on disk (the commit protocol makes them invisible
    to readers, but they consume space). Walk each bucket, keep every
    segment whose task's fragment exists and every old-layout blob a
    fragment entry names, delete the rest — the connector analog of
    Cassandra's compaction/GC of dead sblock columns (reference
    thresholds: ThriftStore.scala:229-234).

    Safe to run concurrently with readers (referenced files are never
    touched) AND with in-flight writers: write() creates segments
    *before* the task's inode fragment lands, so a segment that merely
    looks orphaned may be seconds from being referenced. Only files
    older than `grace_seconds` (mtime threshold — the gc_grace analog
    of Cassandra's tombstone GC) are deleted, in either layout; pass
    grace_seconds=0 only when all writers are known quiesced."""
    import time  # noqa: PLC0415

    cutoff = time.time() - grace_seconds
    removed = kept = 0
    for fn in os.listdir(root):
        if not fn.startswith("bucket="):
            continue
        bdir = os.path.join(root, fn)
        names = os.listdir(bdir)
        referenced: set[str] = set()
        for f in names:
            if f.startswith("inodes-"):
                referenced.add(_segment(f[len("inodes-"):-len(".json")]))
                referenced.update(c.blob for _p, _o, c, _x in _fragment(bdir, f))
        for f in names:
            if f.startswith("sblock-"):
                fp = os.path.join(bdir, f)
                if f in referenced or os.path.getmtime(fp) > cutoff:
                    kept += 1
                else:
                    os.unlink(fp)
                    removed += 1
    return {"removed": removed, "kept": kept}


def register(spark) -> None:
    # pushFilters requires the runtime flag; set it here so the connector
    # works on any session handed to us (it is a plain SQL conf)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnackStoreDataSource)


def store_for(spark, sf_dir: str) -> str:
    """Materialize (once per fixture and layout) a snackstore holding the
    documents content model in the work dir (workdir.py). Later calls
    reuse the store — the connector then serves reads exactly like the
    Cassandra sblock CF. A store without its completion marker (a failed
    or interrupted build) is rewritten with mode("overwrite").

    The ring's hosts are not in the key: they derive from the fixture's
    nation table, which the key covers, and collecting them costs a
    Spark job (~200 ms) that a reused store would pay on every call."""
    from snackfs_spark.sources import fsmodel  # noqa: PLC0415

    register(spark)

    def write(root: str) -> None:
        ring = fsmodel.ring_df(spark, sf_dir).orderBy("tok_start").collect()
        (
            fsmodel.content_df(spark, sf_dir)
            .select("path", "sub_offset", "length", "payload")
            .write.format("snackstore")
            .option("store_dir", root)
            .option("buckets", DEFAULT_BUCKETS)
            .option("hosts", ",".join(r["host"] for r in ring))
            .mode("overwrite")
            .save()
        )

    return workdir.build_once(workdir.cache_dir("snackstore", sf_dir, DEFAULT_BUCKETS), write)
