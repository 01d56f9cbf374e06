"""Per-session memo for shared relations: the ``@shared`` decorator.

Several operator families build one expensive relation that many
queries read: the MinHash candidate graph and the prefix-filter truth
set in dedup.py, the BM25 rankings in textstats.py, the basket relation
in mining.py, and so on. Each such builder is a function
``(spark, sf_dir) -> value`` decorated with ``@shared``; the decorator
builds the value once per Spark application and fixture directory and
hands the same object to every later caller.

One decision lives here for every relation:

  - the key is ``(spark.sparkContext.applicationId, sf_dir)``, so a
    restarted session never sees another session's (now invalid)
    checkpoints, and the ``(spark, sf_dir)`` signature — checked when
    the function is decorated — keeps the value a pure function of the
    engine code and ``sf_dir``;
  - each relation is an LRU bounded at ``MAXSIZE`` keys. An evicted
    entry only drops its references; Spark's ContextCleaner reclaims the
    checkpoint blocks once the RDDs are garbage-collected. Unbounded, a
    long-lived session touching many sf_dirs would retain every
    checkpoint for the process lifetime;
  - each relation has its own lock held around get-or-build, so racing
    first calls build exactly once (a losing build would leak its
    checkpoint). Builds run under the lock; that is cheap because the
    builders mostly assemble lazy ``localCheckpoint(eager=False)``
    plans. A lock per relation, not one global lock, lets a build call
    another shared relation (cluster labels -> candidate edges, prefix
    filter -> distinct shingles, PCA iterate -> quantized corpus, ...)
    without deadlocking, as long as those calls never form a cycle;
  - every build is counted per relation name under one module lock;
    ``build_count()`` is the monotone total bench harnesses diff around
    a query to bill one-time builds to the first toucher;
  - the relation is registered under ``module.qualname`` so tests can
    inspect or clear one relation by name (``relation(name)``).

How a value is materialized stays with each builder: bounded relations
call ``localCheckpoint`` directly, corpus-proportional ones go through
``materialize_shared``.
"""

from __future__ import annotations

import functools
import inspect
import os
import threading
from collections import OrderedDict
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")

# Keys (session, sf_dir) each relation retains. A bench or test session
# touches at most a few fixture directories.
MAXSIZE = 4


def materialize_shared(df, spark):
    """Materialization policy for CORPUS-PROPORTIONAL shared relations
    (the distinct-shingle table, the basket relation, the distinct
    type-user pairs — relations that grow with the corpus, unlike the
    bounded-size memos which stay on plain localCheckpoint).

    r11 VERDICT #3: localCheckpoint puts severed-lineage blocks in
    non-replicated executor storage — tolerant in local mode, but on a
    real cluster an executor loss fails the job instead of recomputing,
    and at 100 TB the relation may not fit executor storage at all. The
    strategy is therefore configurable via SNACKFS_MEMO_MATERIALIZE:

      - "local"    (default): lazy localCheckpoint — single-host / bench
                   posture, zero extra I/O, plan truncation for free.
      - "reliable": lazy reliable checkpoint into SNACKFS_CHECKPOINT_DIR
                   (HDFS/object-store path on a cluster) — survives
                   executor loss, bounded only by durable storage. With
                   neither that variable nor a SparkContext checkpoint
                   dir set, raises ValueError here rather than letting
                   the first action fail far from the misconfiguration.
      - "none"     : no materialization — full lineage kept, every
                   consumer recomputes; the safe fallback when the
                   relation exceeds what either checkpoint store holds.

    All three modes return value-identical DataFrames; only fault
    tolerance and storage placement differ.
    """
    mode = os.environ.get("SNACKFS_MEMO_MATERIALIZE", "local")
    if mode == "local":
        return df.localCheckpoint(eager=False)
    if mode == "reliable":
        sc = spark.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            ckdir = os.environ.get("SNACKFS_CHECKPOINT_DIR")
            if not ckdir:
                raise ValueError(
                    "SNACKFS_MEMO_MATERIALIZE=reliable needs a checkpoint "
                    "dir: set SNACKFS_CHECKPOINT_DIR or call "
                    "SparkContext.setCheckpointDir"
                )
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=False)
    if mode == "none":
        return df
    raise ValueError(
        f"SNACKFS_MEMO_MATERIALIZE={mode!r}: expected local|reliable|none"
    )


class _Relation:
    """One shared relation: its builder, the LRU of built values keyed
    by (applicationId, sf_dir), and its build count (under _count_lock)."""

    def __init__(self, build: Callable[..., object]) -> None:
        self._build = build
        self._lock = threading.Lock()
        self._entries: OrderedDict[tuple[str, str], object] = OrderedDict()
        self.builds = 0

    def get(self, spark, sf_dir: str):
        key = (spark.sparkContext.applicationId, sf_dir)
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
                return self._entries[key]
            value = self._build(spark, sf_dir)
            with _count_lock:
                self.builds += 1
            self._entries[key] = value
            while len(self._entries) > MAXSIZE:
                self._entries.popitem(last=False)
            return value

    def __len__(self) -> int:
        with self._lock:
            return len(self._entries)

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()


_RELATIONS: dict[str, _Relation] = {}
# One lock for every relation's build count: the per-relation locks do
# not serialize builds of DIFFERENT relations, so build_count()'s sum
# needs its own guard.
_count_lock = threading.Lock()


def shared(fn: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``fn(spark, sf_dir)`` per (Spark application, sf_dir);
    see the module docstring. The undecorated builder stays reachable as
    ``__wrapped__``."""
    params = list(inspect.signature(fn).parameters)
    if params != ["spark", "sf_dir"]:
        raise TypeError(
            f"@shared {fn.__qualname__}{params}: expected (spark, sf_dir)"
        )
    name = f"{fn.__module__}.{fn.__qualname__}"
    if name in _RELATIONS:
        raise ValueError(f"duplicate shared relation {name!r}")
    rel = _RELATIONS[name] = _Relation(fn)

    @functools.wraps(fn)
    def wrapper(spark, sf_dir):
        return rel.get(spark, sf_dir)

    return wrapper


def relation(name: str) -> _Relation:
    """The registered relation ``module.qualname`` (``len()`` = cached
    keys, ``.clear()`` drops them)."""
    return _RELATIONS[name]


def build_count() -> int:
    """Total shared-relation builds (cache misses) so far in this
    process. A pure monotone counter: bench harnesses diff it around a
    query to detect that the query was the FIRST TOUCHER of one or more
    shared relations, whose one-time build cost best-of-N timing would
    otherwise discard."""
    with _count_lock:
        return sum(rel.builds for rel in _RELATIONS.values())


def clear_all_memos() -> None:
    """Drop every shared relation's cached values (test hook — see the
    determinism suite; production/bench sessions never call this). The
    build counter is never rewound."""
    for rel in list(_RELATIONS.values()):
        rel.clear()
