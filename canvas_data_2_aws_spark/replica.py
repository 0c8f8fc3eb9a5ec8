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


def publish(root: str, frames: dict, token: str | None = None) -> dict:
    """Commit ``frames`` (table name -> DataFrame) and ``token`` as the
    root's next version, all together or not at all: stage every frame
    to ``{name}__v{N+1}``, point the manifest at the staged directories,
    :func:`commit`, then :func:`vacuum` the superseded ones. Tables not
    in ``frames`` keep their directories; ``token=None`` keeps the
    token. Returns the committed manifest."""
    man = load(root)
    man["version"] += 1
    for name, df in frames.items():
        rel = f"{name}__v{man['version']}"
        df.write.mode("overwrite").parquet(os.path.join(root, rel))
        man["tables"][name] = {"dir": rel}
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
