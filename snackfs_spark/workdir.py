"""The engine's work dir: the one owner of every on-disk cache (the
ingest re-layout, the connector store, the interchange shards, the
session warehouse). It decides three things (DESIGN.md "Cross-query
session memoization"):

  - the root, ``<package parent>/var``;
  - the key, ``<root>/<kind>/<fixture basename>-<digest>``, the digest
    over each fixture table file's name, size and mtime_ns, the layout
    parameters that shaped the output, and ``FORMAT_VERSION``;
  - the reuse rule: a dir is reused only if its ``_SUCCESS`` marker
    exists; otherwise it is written with ``mode("overwrite")`` and
    marked after the write returns.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1] / "var")

# Bump when an engine change alters what a cache holds, so every copy
# written before it is ignored instead of reused.
FORMAT_VERSION = 1


def kind_root(kind: str) -> str:
    """``<root>/<kind>``: the directory that holds every cache of one kind."""
    return f"{ROOT}/{kind}"


def fixture_key(sf_dir: str, *layout: object) -> str:
    """``<fixture basename>-<digest>`` for the fixture at ``sf_dir`` laid
    out by ``layout`` (any values with a stable ``repr``)."""
    h = hashlib.sha256(repr((FORMAT_VERSION, layout)).encode())
    with os.scandir(sf_dir) as entries:
        for e in sorted(entries, key=lambda e: e.name):
            if e.name.endswith(".parquet"):
                st = e.stat()
                h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return f"{os.path.basename(sf_dir.rstrip('/'))}-{h.hexdigest()[:16]}"


def cache_dir(kind: str, sf_dir: str, *layout: object) -> str:
    """The cache dir of one kind for the fixture at ``sf_dir``."""
    return os.path.join(kind_root(kind), fixture_key(sf_dir, *layout))


def is_built(path: str) -> bool:
    """Whether a write to ``path`` completed (its marker exists)."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def build_once(path: str, write: Callable[[str], object]) -> str:
    """Return ``path``, first calling ``write(path)`` and marking it
    unless it is already built. ``write`` must replace whatever a failed
    earlier write left there (``mode("overwrite")``)."""
    if not is_built(path):
        write(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path
