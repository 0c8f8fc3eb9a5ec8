"""Replica-root manifest: the one commit protocol for replica data.

The reference pipeline commits each table's new high-water token in one
Postgres transaction, so a crashed sync never leaves half the replica
advanced `[public: DAP]`. Parquet directories have no transactions, so
this module supplies the standard lakehouse-style substitute, and it is
the only module that knows the directory layout:

- ``_manifest.json`` at the replica root is the single source of truth
  mapping table name -> current data directory (plus the sync token and
  a monotonically increasing version).
- Every writer (the CLI's initdb/syncdb/optimize, the streaming merge
  sinks) goes through :func:`publish`: it stages NEW directories
  (``{table}__v{N}``), then swaps the manifest via write-temp +
  ``os.replace`` — atomic on POSIX. A crash at ANY earlier point leaves
  the prior manifest (and the directories it references) untouched;
  staged leftovers are reclaimed by the next publish (a same-version
  leftover is overwritten by its staging write, any other by
  :func:`vacuum`).
- The staging writes of one publish run concurrently, one pool thread
  per table, so a multi-table sync's small write jobs share the
  executor slots instead of queueing behind each other. Each thread
  inherits the caller's job group and local properties
  (``inheritable_thread_target``), and the pool is joined — the first
  failure re-raised — before the manifest is touched, so concurrency
  does not change the all-or-nothing commit.
- Row counts come from the parquet footers (:func:`row_count`), not a
  Spark re-scan of data just written.
- Readers resolve through :func:`table_dir`. A table the manifest does
  not name falls back to the plain ``{table}`` path, so a root written
  before manifests existed stays readable and is upgraded by its next
  publish (whose vacuum then reclaims the superseded plain directory).

Single-process by design (matching the reference's one-scheduler
deployment); concurrent writers would need a lock file or a real table
format (Delta/Iceberg), which is the stated 100 TB path in SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.util import inheritable_thread_target

MANIFEST = "_manifest.json"


def load(root: str) -> dict:
    """Current manifest, or a fresh empty one if the root has none."""
    path = os.path.join(root, MANIFEST)
    if os.path.exists(path):
        with open(path, "r", encoding="utf-8") as fh:
            return json.load(fh)
    return {"version": 0, "token": None, "tables": {}}


def table_dir(root: str, table: str) -> str:
    """Resolve a table's current data directory through the manifest
    (falling back to the plain ``{root}/{table}`` layout)."""
    man = load(root)
    rel = man["tables"].get(table, {}).get("dir", table)
    return os.path.join(root, rel)


def row_count(path: str) -> int:
    """Rows in a parquet directory, summed from the file footers.
    Like Spark, skips ``_``/``.`` files (``_SUCCESS``, ``.crc``)."""
    # Imported here: it adds ~50 ms to every import of the package, and
    # only the replica-writing verbs count rows.
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, name)).num_rows
        for name in os.listdir(path)
        if not name.startswith(("_", "."))
    )


def publish(root: str, frames: dict, token: str | None = None) -> dict:
    """Commit ``frames`` (table name -> DataFrame) and ``token`` as the
    root's next version, all together or not at all: stage every frame
    to ``{name}__v{N+1}``, point the manifest at the staged directories,
    :func:`commit`, then :func:`vacuum` the superseded ones. Tables not
    in ``frames`` keep their directories; ``token=None`` keeps the
    token. Returns the committed manifest.

    The staging writes run concurrently on a pool of ``len(frames)``
    threads, each wrapped by ``inheritable_thread_target`` so its jobs
    keep the caller's job group and local properties. The pool is
    joined before the commit and the first failed write is re-raised,
    so a failure leaves the prior manifest live. ``commit`` and
    ``vacuum`` run on the calling thread."""
    man = load(root)
    man["version"] += 1
    with ThreadPoolExecutor(max_workers=max(1, len(frames))) as pool:
        staged = []
        for name, df in frames.items():
            rel = f"{name}__v{man['version']}"
            # Wrapped on the caller's thread, once per task: wrapping
            # captures a copy of the caller's local properties, so each
            # write gets its own copy to set its SQL execution id in.
            write = inheritable_thread_target(df.sparkSession)(
                df.write.mode("overwrite").parquet
            )
            staged.append(pool.submit(write, os.path.join(root, rel)))
            man["tables"][name] = {"dir": rel}
        for future in staged:
            future.result()
    if token is not None:
        man["token"] = token
    commit(root, man)  # <- the all-tables-or-nothing point
    vacuum(root)
    return man


def commit(root: str, manifest: dict) -> None:
    """Atomically replace the manifest: write a temp file, fsync, then
    ``os.replace`` — the all-tables-or-nothing commit point."""
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, MANIFEST + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(root, MANIFEST))


def vacuum(root: str) -> list[str]:
    """Delete data directories not referenced by the current manifest —
    staged leftovers from a crashed publish, or superseded versions.
    Only names of tables the manifest manages are touched (their plain
    directory or any ``__v`` version), so without a manifest this is a
    no-op. Returns the removed directory names."""
    man = load(root)
    live = {e["dir"] for e in man["tables"].values()}
    removed = []
    for name in os.listdir(root):
        full = os.path.join(root, name)
        if not os.path.isdir(full):
            continue
        stem = name.split("__v")[0]
        if stem not in man["tables"]:
            continue
        if name not in live:
            shutil.rmtree(full, ignore_errors=True)
            removed.append(name)
    return removed
