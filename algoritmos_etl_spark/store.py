"""Session artifact store: the one place the package decides how a
per-session artifact is built, shared, and released.

The reference builds its master dataset once and every endpoint reads
that copy (`etl/data_unifier.py` → CSV → `app.py`). The in-session twin
is an artifact built once per (session, name, key) — the bars model, a
shingle table, a staged ingest tree, a learned tokenizer, a constant
Column tree — and handed to every later caller.

Entries live in one table keyed `(applicationId, name, key)`.
applicationId, not id(spark): a Python session object can be GC'd and a
new one allocated at the same address, which would hand out artifacts
bound to a dead context. One re-entrant lock guards the table and is
held across a build, so concurrent callers (the streaming thread pools,
foreachBatch callbacks) get exactly one build per key, and a build may
ask the store for the artifacts it is built from. A build must not wait
on another thread that uses the store.

Each access first drops the entries of stopped contexts and removes
their disk trees; an interpreter-exit hook removes every disk tree.
While an entry is held its payload is live: the store keeps a strong
reference, so Spark's GC-driven ContextCleaner never releases
checkpoint blocks of a live session.

Kinds, named by what the entry holds:
- `blocks`: `build().localCheckpoint(eager=False)` — executor blocks,
  for bounded tables (bars model, fixture files, parse tables);
- `parquet`: `build()` written under a session workdir and read back,
  for corpus-sized tables — disk instead of pinned executor storage,
  survives executor loss, and gives consumers column pruning and
  predicate pushdown at the scan;
- `workdir`: `populate(work)` run once on a fresh tempdir whose prefix
  is the entry's name; the path is the artifact;
- `value`: any driver-side Python value, including unresolved Column
  trees (their py4j handles die with the JVM, hence session scope).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading

_LOCK = threading.RLock()
# (applicationId, name, key) -> (SparkContext, artifact, workdir | None)
_ENTRIES: dict = {}


def _get(sc, name: str, key, make):
    with _LOCK:
        for k in [k for k, e in _ENTRIES.items() if e[0]._jsc is None]:
            work = _ENTRIES.pop(k)[2]
            if work is not None:
                shutil.rmtree(work, ignore_errors=True)
        k = (sc.applicationId, name, key)
        if k not in _ENTRIES:
            _ENTRIES[k] = (sc, *make())
        return _ENTRIES[k][1]


def _populated(name: str, populate) -> str:
    work = tempfile.mkdtemp(prefix=f"{name}_")
    try:
        populate(work)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    return work


def blocks(sc, name: str, key, build):
    """`build()`'s DataFrame as lazily landed checkpoint blocks."""
    return _get(sc, name, key, lambda: (build().localCheckpoint(eager=False), None))


def parquet(sc, name: str, key, build):
    """`build()`'s DataFrame landed as parquet under a session workdir;
    the read-back DataFrame is kept so schema inference runs once."""

    def make():
        df = build()
        work = _populated(
            name, lambda w: df.write.mode("overwrite").parquet(f"{w}/data")
        )
        return df.sparkSession.read.parquet(f"{work}/data"), work

    return _get(sc, name, key, make)


def workdir(sc, name: str, key, populate) -> str:
    """A session workdir filled once by `populate(work)`."""

    def make():
        work = _populated(name, populate)
        return work, work

    return _get(sc, name, key, make)


def value(sc, name: str, key, build):
    """`build()`'s driver-side value."""
    return _get(sc, name, key, lambda: (build(), None))


def _remove_workdirs() -> None:
    # no lock: at exit a daemon thread (a py4j callback) may still hold it
    for _, _, work in list(_ENTRIES.values()):
        if work is not None:
            shutil.rmtree(work, ignore_errors=True)
    _ENTRIES.clear()


atexit.register(_remove_workdirs)
