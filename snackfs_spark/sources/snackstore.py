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
- **One layout**: every fragment entry is a list of four-element chunks
  into its task's segment. An entry in a pre-segment layout (two-element
  `[sub_offset, char_len]` chunks, or `offsets` with one blob per
  sub-block) makes reads, the tail reader and `vacuum_store` raise a
  ValueError naming its fragment; rewrite such a store from its source.
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
- **Planner workers** import this module, which trims their import path
  (`pyworker.trim_worker`, DESIGN.md "Python worker floor").
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import uuid
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

from snackfs_spark import pyworker, workdir
from snackfs_spark.sources import fsmodel
from snackfs_spark.sources.fsmodel import REPLICATION, TOKEN_SPACE

# Spark starts the Python Data Source planner workers (define, pushdown,
# plan, write commit) from its stock daemon, not from snackfs_spark.pyworker.
# Each one unpickles SnackStoreDataSource by reference, so it imports this
# module: trimming here spares its later calls the archive re-read.
pyworker.trim_worker()

DEFAULT_BUCKETS = 8
LISTING_CAP = 100_000   # reference's hard listing cap (ThriftStore.scala:509)

SCHEMA = (
    "path string, sub_offset bigint, length bigint, payload string"
)
_ARROW_SCHEMA = pa.schema([
    ("path", pa.string()),
    ("sub_offset", pa.int64()),
    ("length", pa.int64()),
    ("payload", pa.string()),
])


def _store_meta(root: str) -> dict:
    """The store's `_store.json`; a ValueError naming `root` if it has none."""
    try:
        with open(os.path.join(root, "_store.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(f"{root!r} is not a snackstore: it has no _store.json") from None


def _bucket_of(path: str, buckets: int) -> int:
    return int(hashlib.md5(path.encode()).hexdigest()[:8], 16) % buckets


def _segment(task: str) -> str:
    return f"sblock-{task}.bin"


class _Chunk(NamedTuple):
    """Where one sub-block lives inside its bucket directory."""

    length: int   # chars
    segment: str
    pos: int      # byte range in `segment`
    nbytes: int


def _fragment(bdir: str, fn: str, keep: Callable[[str], bool] | None = None):
    """Yield (path, sub_offset, _Chunk) for each entry of the inode
    fragment `fn`, skipping paths `keep` rejects. An entry that is not a
    list of [sub_offset, char_len, byte_pos, byte_len] chunks raises a
    ValueError naming the fragment."""
    seg = _segment(fn[len("inodes-"):-len(".json")])
    with open(os.path.join(bdir, fn)) as f:
        frag = json.load(f)
    for path, meta in frag.items():
        if keep is not None and not keep(path):
            continue
        if set(meta) != {"chunks"} or any(len(c) != 4 for c in meta["chunks"]):
            raise ValueError(
                f"snackstore fragment {os.path.join(bdir, fn)}: entry {path!r} "
                "is in a pre-segment layout, which is not read; rewrite the store"
            )
        for off, length, pos, nbytes in meta["chunks"]:
            yield path, off, _Chunk(length, seg, pos, nbytes)


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
            for path, off, chunk in _fragment(bdir, fn, keep):
                chunks.setdefault(path, {})[off] = chunk
    return chunks


def _read_payloads(bdir: str, chunks: list[_Chunk]) -> list[str]:
    """Decoded payloads of `chunks`, in order. Each segment is opened once
    and each run of adjacent byte ranges is one seek + read, so a scan reads
    a segment in one call and a point read touches only its own ranges."""
    out = [""] * len(chunks)
    by_segment: dict[str, list[int]] = {}
    for i, c in enumerate(chunks):
        by_segment.setdefault(c.segment, []).append(i)
    for segment, idx in by_segment.items():
        with open(os.path.join(bdir, segment), "rb") as f:
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
                        f"snackstore segment {os.path.join(bdir, segment)} ends "
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
    walk of ThriftStore.scala:543-605. The owner test is fsmodel.owned_by
    in plain Python: the planner workers that call this have no Spark
    session to evaluate a Column in."""
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
        meta = _store_meta(self.root)
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
        payloads = _read_payloads(bdir, located) if self.want_payload else [None] * len(rows)
        return pa.RecordBatch.from_arrays(
            [
                pa.array([p for p, _o, _c in rows], pa.string()),
                pa.array([o for _p, o, _c in rows], pa.int64()),
                pa.array([c.length for c in located], pa.int64()),
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
            existing = _store_meta(self.root)
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
        self.buckets = _store_meta(self.root)["buckets"]
        self.bdir = os.path.join(
            self.root, f"bucket={_bucket_of(self.path, self.buckets)}"
        )

    def initialOffset(self) -> dict:
        return {"end": 0}  # follow from the start of the file

    def _committed_chunks(self) -> list[tuple[int, _Chunk]]:
        """Sorted (sub_offset, _Chunk) pairs of the path visible under the
        commit protocol (listed from inode fragments, never by globbing
        segments); a micro-batch reads payloads from the listing it walked."""
        return sorted(_inodes(self.bdir, lambda p: p == self.path).get(self.path, {}).items())

    def _pos(self, offset: dict) -> int:
        """Consumed position from an offset dict, which is only ever
        {"end": N}; anything else raises a ValueError naming the path."""
        if len(offset) != 1 or "end" not in offset:
            raise ValueError(
                f"snackstore tail {self.path}: offset {offset!r} is not "
                '{"end": N}; restart the stream from a new checkpoint'
            )
        return offset["end"]

    def _rows(self, chunks: list[tuple[int, _Chunk]], lo: int, hi: int):
        """Rows for the given committed chunks with lo <= sub_offset < hi."""
        picked = [(off, c) for off, c in chunks if lo <= off < hi]
        payloads = _read_payloads(self.bdir, [c for _off, c in picked])
        return [
            (self.path, off, c.length, payload)
            for (off, c), payload in zip(picked, payloads)
        ]

    def read(self, start: dict):
        # one fragment listing per micro-batch: advance through the
        # contiguous committed run starting at the consumed position,
        # stopping at the first gap
        chunks = self._committed_chunks()
        start_pos = self._pos(start)
        end_pos = start_pos
        for off, c in chunks:
            if off < end_pos:
                continue  # already consumed
            if off > end_pos:
                break  # gap — out-of-order commit still pending
            end_pos = off + c.length
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
    """Garbage-collect orphan segments: a write task that died after
    writing its segments but before its inode fragments leaves
    unreferenced files on disk (the commit protocol makes them invisible
    to readers, but they consume space). Walk each bucket, keep every
    segment a fragment entry names, delete the rest — the connector
    analog of Cassandra's compaction/GC of dead sblock columns (reference
    thresholds: ThriftStore.scala:229-234).

    Every fragment of the store is parsed before anything is deleted, so
    a store in a pre-segment layout raises (see `_fragment`) with all its
    files in place instead of losing its blobs as orphans.

    Safe to run concurrently with readers (referenced files are never
    touched) AND with in-flight writers: write() creates segments
    *before* the task's inode fragment lands, so a segment that merely
    looks orphaned may be seconds from being referenced. Only files
    older than `grace_seconds` (mtime threshold — the gc_grace analog
    of Cassandra's tombstone GC) are deleted; pass grace_seconds=0 only
    when all writers are known quiesced."""
    import time  # noqa: PLC0415

    cutoff = time.time() - grace_seconds
    orphans: list[str] = []
    kept = 0
    for fn in os.listdir(root):
        if not fn.startswith("bucket="):
            continue
        bdir = os.path.join(root, fn)
        names = os.listdir(bdir)
        referenced = {
            c.segment
            for f in names
            if f.startswith("inodes-")
            for _p, _o, c in _fragment(bdir, f)
        }
        for f in names:
            if f.startswith("sblock-"):
                fp = os.path.join(bdir, f)
                if f in referenced or os.path.getmtime(fp) > cutoff:
                    kept += 1
                else:
                    orphans.append(fp)
    for fp in orphans:
        os.unlink(fp)
    return {"removed": len(orphans), "kept": kept}


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
