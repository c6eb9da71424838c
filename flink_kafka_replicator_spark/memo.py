"""The session-scoped artifact memo, checked against its inputs' identity.

Table scans, LSH bands, quantizer models, lexical vocabularies and
index snapshots are built once per session and reused by every later
query build. They all live here, under one rule:

- an entry is ``(application id, kind, key) -> (input identity, value)``;
- a hit is served only while the inputs' identity still equals the
  stored one, so a dataset or index rewritten within a session is
  rebuilt, never served stale;
- a value is stored only if the identity did not move while it was
  being built (it is still returned to the caller);
- each kind holds at most ``MAX_PER_KIND`` entries; a full kind is
  cleared, and only that kind.

Clearing drops references and never unpersists. An evicted value may
hold eagerly-materialized blocks (checkpoint/localCheckpoint) that a
caller still uses, and a checkpoint has truncated lineage: once its
blocks are gone the data is unrecoverable, not recomputable. Spark's
ContextCleaner frees the blocks when the underlying RDDs become
unreachable, which dropping the references enables.
"""

from __future__ import annotations

import functools
import inspect
import os
from typing import Callable, Hashable, TypeVar

T = TypeVar("T")

MAX_PER_KIND = 64

# kind -> {(application id, key): (input identity, value)}
_STORE: dict[str, dict] = {}


def get(
    spark,
    kind: str,
    key: Hashable,
    identity: Callable[[], Hashable],
    build: Callable[[], T],
) -> T:
    """The memoized ``build()`` for ``key`` while ``identity()`` holds."""
    entries = _STORE.setdefault(kind, {})
    k = (spark.sparkContext.applicationId, key)
    before = identity()
    hit = entries.get(k)
    if hit is not None and hit[0] == before:
        return hit[1]
    value = build()
    if identity() == before:
        if k not in entries and len(entries) >= MAX_PER_KIND:
            entries.clear()
        entries[k] = (before, value)
    return value


def clear(*kinds: str) -> None:
    """Drop every entry of ``kinds`` (all kinds when none is named)."""
    for kind in kinds or list(_STORE):
        _STORE.get(kind, {}).clear()


def dataset_id(sf_dir: str) -> tuple:
    """(inode, mtime, size) of each table path under ``sf_dir``, None
    for a missing one: one ``stat`` per table, never per file."""
    from .io import TABLES, table_path

    out = []
    for name in TABLES:
        try:
            st = os.stat(table_path(sf_dir, name))
        except FileNotFoundError:
            out.append(None)
        else:
            out.append((st.st_ino, st.st_mtime_ns, st.st_size))
    return tuple(out)


def dataset(fn: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``fn(spark, sf_dir, *extra)`` under kind ``fn.__name__``
    and key ``(normpath(sf_dir), *extra)``, defaults applied, against
    :func:`dataset_id` of ``sf_dir``."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        spark, sf_dir, *extra = bound.arguments.values()
        root = os.path.normpath(sf_dir)
        return get(
            spark,
            fn.__name__,
            (root, *extra),
            lambda: dataset_id(root),
            lambda: fn(*args, **kwargs),
        )

    return wrapper
